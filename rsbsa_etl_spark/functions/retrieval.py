"""Hybrid retrieval: lexical + vector search fused by Reciprocal
Rank Fusion (extension surface).

The modern retrieval stack runs BOTH a term-match arm (BM25-family)
and an embedding arm (ANN) per query and fuses the two rankings with
RRF (Cormack & Clarke, SIGIR'09): ``score(d) = Σ_arms 1/(K + rank)``
— rank-based, so the arms' incomparable score scales never need
calibration. This module implements the whole pipeline as one
declarative plan.

Cross-engine discipline: the lexical arm scores with the shared
``rational_idf`` (transcendental-free; same single-sourced helper as
tfidf_topk/bm25_topk) summed via ``fixed_sum`` — per-term idf
doubles are quantized to integers BEFORE aggregation, so the score
is independent of partition/summation order (a plain double sum is
not associative and could flip ranks between engines); the vector
arm uses the sequential-fold cosine quantized to 1e-4; the RRF sum
``1.0/(K+r1) + 1.0/(K+r2)`` is two IEEE divisions and one addition —
exactly specified, so both engines produce identical doubles and
identical final rankings, with (score desc, doc_id asc) total
orders everywhere.

At 100 TB: per-arm retrieval is top-``HYBRID_ARM_K`` under a ranked
window per query — the lexical arm's candidate generation is a
posting-list join (query terms broadcast, never a corpus scan per
query), the vector arm broadcasts the query vectors against one
corpus scan (the ann_bruteforce plan; swap in the IVF/LSH arm for a
billion-vector corpus — the fusion stage is unchanged, which is the
point of rank fusion). Fusing only the retrieved lists (standard
practice) keeps the fusion stage query-local and tiny.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from rsbsa_etl_spark.functions.dedup import normalized_text
from rsbsa_etl_spark.functions.numeric import dec_round, fixed_sum
from rsbsa_etl_spark.functions.similarity import (
    _collect_id_vecs,
    _floor_long,
    _ivf_probe,
    _query_rows,
    _topk_scores_arrow,
    with_norm,
)
from rsbsa_etl_spark.functions.textstats import rational_idf
from rsbsa_etl_spark.params import (
    ANN_QUERY_IDS,
    HYBRID_ARM_K,
    HYBRID_TOP_K,
    RRF_K,
)


def hybrid_search_rrf(
    docs: DataFrame,
    emb: DataFrame,
    query_ids=ANN_QUERY_IDS,
    arm_k: int = HYBRID_ARM_K,
    top_k: int = HYBRID_TOP_K,
) -> DataFrame:
    """more-like-this hybrid search: for each query document, the
    top-``top_k`` corpus documents by RRF over a lexical arm
    (distinct-term idf overlap) and a vector arm (embedding cosine).

    Output: (query_id, doc_id, lex_rank, vec_rank, rrf) — arm ranks
    are NULL when the doc was retrieved by only one arm; rrf is the
    sum of 1/(RRF_K + rank) over the arms that retrieved it.

    Persist contract: the internal corpus cache stays for the
    session (the result is lazy and every consumer re-reads it);
    loop-running callers clearCache between runs, as bench.py does.
    Composed operators that materialize eagerly (``hybrid_mmr``)
    use ``_hybrid_parts`` instead and release the handle.
    """
    fused, _corpus = _hybrid_parts(docs, emb, query_ids, arm_k, top_k)
    return fused


def _hybrid_parts(
    docs: DataFrame,
    emb: DataFrame,
    query_ids=ANN_QUERY_IDS,
    arm_k: int = HYBRID_ARM_K,
    top_k: int = HYBRID_TOP_K,
):
    """the hybrid pipeline plus its cached-corpus HANDLE, so an
    eagerly-materializing composer can release the persist when
    done (returning only the DataFrame would strand the cache)."""
    # the corpus subplan feeds four subtrees (queries, the terms
    # explode, the candidate-count scalar, the vector scan) and
    # Spark does not deduplicate common subplans — persist so the
    # documents scan + normalize + embeddings join runs once. Same
    # cache contract as the rest of the repo: loop-running callers
    # clearCache between runs (bench.py does).
    corpus = docs.select(
        "doc_id", normalized_text(F.col("text")).alias("norm")
    ).join(
        emb.select(F.col("vec_id").alias("doc_id"), "embedding"),
        "doc_id",
    ).persist()
    qset = [int(q) for q in query_ids]
    queries = corpus.where(F.col("doc_id").isin(qset)).select(
        F.col("doc_id").alias("query_id"),
        F.col("norm").alias("q_norm"),
    )
    cand = corpus.where(~F.col("doc_id").isin(qset))

    # ---- lexical arm: Σ idf over shared DISTINCT terms ------------
    terms = (
        cand.select("doc_id", F.explode(F.split("norm", " ")).alias("term"))
        .where(F.length("term") > 0)
        .distinct()
    )
    df_tbl = terms.groupBy("term").agg(F.count("*").alias("df"))
    n_tbl = cand.select(F.count("*").alias("n_docs"))
    q_terms = (
        queries.select(
            "query_id", F.explode(F.split("q_norm", " ")).alias("term")
        )
        .where(F.length("term") > 0)
        .distinct()
    )
    # query terms (tiny) broadcast onto the posting list; score is a
    # per-(query, doc) partial-aggregated sum of rational idf
    lex_scores = (
        terms.join(F.broadcast(q_terms), "term")
        .join(F.broadcast(df_tbl), "term")
        .join(F.broadcast(n_tbl))
        .groupBy("query_id", "doc_id")
        .agg(
            fixed_sum(
                rational_idf(F.col("n_docs"), F.col("df")), 6, alias="lex"
            )
        )
    )
    wl = Window.partitionBy("query_id").orderBy(
        F.col("lex").desc(), F.col("doc_id").asc()
    )
    lex_top = (
        lex_scores.withColumn("lex_rank", F.row_number().over(wl))
        .where(F.col("lex_rank") <= arm_k)
        .select("query_id", "doc_id", "lex_rank")
    )

    # ---- vector arm: broadcast query vectors, one corpus scan -----
    # scored in the Arrow batch kernel (1e-4-rounded cosine, batch-
    # local top-arm_k cut). The bounded query-vector collect doubles
    # as the eager materialization of the corpus cache (its consumers
    # below read the cached rows either way). Both steps raise on a
    # NULL or ragged query vector; the corpus is released then, as no
    # caller gets a handle to it.
    try:
        qrows = _collect_id_vecs(
            corpus.where(F.col("doc_id").isin(qset)), "doc_id", "embedding"
        )
        vec_scores = _topk_scores_arrow(
            cand.select("doc_id", "embedding"),
            qrows,
            "embedding",
            "doc_id",
            arm_k,
            out_col="cos",
            scale=4,
            drop_null=True,
        )
    except Exception:
        corpus.unpersist()
        raise
    wv = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("doc_id").asc()
    )
    vec_top = (
        vec_scores.withColumn("vec_rank", F.row_number().over(wv))
        .where(F.col("vec_rank") <= arm_k)
        .select("query_id", "doc_id", "vec_rank")
    )

    # ---- RRF fusion over the union of the retrieved lists ---------
    fused = lex_top.join(vec_top, ["query_id", "doc_id"], "full_outer")
    rrf = (
        F.when(
            F.col("lex_rank").isNotNull(),
            F.lit(1.0) / (F.lit(RRF_K) + F.col("lex_rank")),
        ).otherwise(F.lit(0.0))
        + F.when(
            F.col("vec_rank").isNotNull(),
            F.lit(1.0) / (F.lit(RRF_K) + F.col("vec_rank")),
        ).otherwise(F.lit(0.0))
    )
    wf = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    out = (
        fused.withColumn("rrf", rrf)
        .withColumn("rnk", F.row_number().over(wf))
        .where(F.col("rnk") <= top_k)
        .select(
            "query_id",
            "doc_id",
            F.col("lex_rank").cast("int").alias("lex_rank"),
            F.col("vec_rank").cast("int").alias("vec_rank"),
            dec_round(F.col("rrf"), 6).alias("rrf"),
            F.col("rnk").cast("int").alias("rank"),
        )
    )
    return out, corpus


def _mmr_pool(
    emb: DataFrame, qset: list, pool_k: int, ivf: tuple[int, int] | None = None
) -> DataFrame:
    """the MMR entry points' retrieval-pool plan, factored so the
    kernel tests exercise the SHIPPED pool construction instead of a
    hand-copied twin that could silently drift. Returns the lazy
    (query_id, doc_id, vd, nd, rel_i) top-``pool_k`` plan: cosine
    retrieval with broadcast query vectors, 1e-6 fixed-point
    relevance, (rel desc, doc_id asc) ranked window, self-matches and
    NULL relevance excluded.

    The scoring runs in the Arrow batch kernel
    (``_topk_scores_arrow`` — the oracle's fold arithmetic and
    Spark's floor→long cast, batch-local top-``pool_k`` cut), and
    the kernel carries each surviving row's (vd, nd) through so the
    pool costs ONE corpus scan and the ranking window's exchange
    carries batch-local candidates, not corpus × queries rows.

    ``ivf=(n_centroids, nprobe)`` restricts the candidates to the
    probed cells (``ivf_topk``'s restriction, for ``mmr_rerank_ivf``).
    Its relevance is then ``ivf_topk``'s cosine: ranked on the 1e-6
    grid, rounded to 4 places and requantized,
    ``floor(dec_round(cos, 4)·1e6 + 0.5)`` — an exact 1e-4-grid
    double gives the same integer in both engines, so the oracle
    composes the IVF SQL with the shared MMR unroll verbatim."""
    scored = _topk_scores_arrow(
        emb.select(F.col("vec_id").alias("doc_id"), "embedding"),
        _query_rows(emb, qset),
        "embedding",
        "doc_id",
        pool_k,
        out_col="rel_i",
        fixed_long=True,
        drop_null=True,
        keep_vec=True,
        **({} if ivf is None else _ivf_probe(emb, *ivf)),
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("rel_i").desc(), F.col("doc_id").asc()
    )
    rel = F.col("rel_i")
    if ivf is not None:
        cos4 = dec_round(F.col("rel_i") / F.lit(1e6), 4)
        rel = F.floor(cos4 * F.lit(1e6) + F.lit(0.5)).cast("long")
    return (
        scored.withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= pool_k)
        .select("query_id", "doc_id", "vd", "nd", rel.alias("rel_i"))
    )


def _make_greedy_kernel():
    """factory for the per-query greedy MMR kernel — pure-Python
    exact-integer arithmetic shared by the grouped Arrow selection
    (``_greedy_mmr``) and the kernel unit tests.

    A FACTORY, not a plain module-level def, for ship-by-reference
    pickling: ``_greedy_mmr``'s group function closes over this
    kernel and ships it to Python workers — a module-level function
    pickles by NAME and crashes workers with ModuleNotFoundError
    whenever the driver runs outside the repo root (pytest's
    cwd=repo never catches it). A factory-made closure pickles by
    VALUE, and the λ weights are captured here as plain ints so the
    worker-side kernel never imports the package either.

    Kernel contract — ``fold_one(cand, present, sim, k)``: ``cand``
    maps doc_id → rel_i; ``present`` holds the (candidate, selected)
    pairs that EXIST as rows, pinning the oracle unroll's edge
    semantics (its rounds >= 2 INNER JOIN pool->pairs->selected: a
    pool doc with no candidate-oriented row to any selected doc is
    UNPICKABLE after round 1 — e.g. a hybrid pool doc with no
    embedding row); ``sim`` holds only NON-NULL sim_i (SQL max()
    skips NULLs — a zero-norm pool embedding gives a NULL sim_i). A
    candidate whose every sim-to-selected is NULL gets mmr_i = None,
    which ranks LAST (the oracle's ORDER BY mmr_i DESC under
    DuckDB's NULLS LAST default). The lookup is DIRECTIONAL — a
    pairs row counts only as (a_id = candidate, b_id = selected),
    exactly the oracle join ``pr.a_id = p.doc_id AND s.doc_id =
    pr.b_id`` — so the two engines agree on ANY pairs input;
    producers of symmetric similarities must emit both orientations
    (``_greedy_mmr`` does, by construction). Returns
    [(doc_id, rel_i, pick_order, mmr_i)] in pick order."""
    from rsbsa_etl_spark.params import MMR_W_DIV, MMR_W_REL

    w_rel, w_div = int(MMR_W_REL), int(MMR_W_DIV)

    def fold_one(cand: dict, present: set, sim: dict, k: int) -> list:
        def _beats(a, b) -> bool:
            # strict > with NULL = -infinity (NULLS LAST): keeps the
            # smallest doc_id among equals (candidates iterate in
            # doc_id order)
            if a is None:
                return False
            return b is None or a > b

        cand_order = sorted(cand)  # doc_id-asc: the tiebreak order
        sel_ids: set = set()
        out = []
        for pick_no in range(1, k + 1):
            best = None
            for did in cand_order:
                if did in sel_ids:
                    continue
                if sel_ids:
                    linked = False
                    sims = []
                    for sd in sel_ids:
                        kk = (did, sd)  # directional: see above
                        if kk in present:
                            linked = True
                            if kk in sim:
                                sims.append(sim[kk])
                    if not linked:
                        continue  # oracle: inner join excludes it
                    ms_i = max(sims) if sims else None
                    mmr_i = (
                        w_rel * cand[did] - w_div * ms_i
                        if ms_i is not None
                        else None
                    )
                else:
                    # round 1: every pool doc competes, max-sim term 0
                    mmr_i = w_rel * cand[did]
                if best is None or _beats(mmr_i, best[1]):
                    best = (did, mmr_i)
            if best is None:
                break
            sel_ids.add(best[0])
            out.append((best[0], cand[best[0]], pick_no, best[1]))
        return out

    return fold_one


def _greedy_mmr(pool: DataFrame, k: int) -> DataFrame:
    """the greedy MMR selection — ONE lazy grouped Arrow kernel
    shared by ``mmr_rerank``, ``mmr_rerank_ivf`` and ``hybrid_mmr``
    (``mmr_rerank_auto`` and ``context_pack`` run through them) and
    mirrored round for round by the oracles' shared unroll, so the
    integer-weight argmax semantics cannot drift between entry
    points. Input: the pool rows (query_id, doc_id, rel_i, vd, nd,
    has_vec) — rel_i the 1e-6 fixed-point relevance, vd/nd the
    double vector and its norm, has_vec whether the doc joined an
    embedding row. Returns (query_id, doc_id, rel_i, pick_order,
    mmr_i).

    Each query's group builds its in-pool similarities itself, with
    the arithmetic of the oracles' ``_MMR_SIM`` (and of
    ``_topk_scores_arrow``): the dot accumulates per dimension from
    0.0, ``sim_i = floor(dot / (na·nb) · 1e6 + 0.5)`` through Spark's
    floor→long cast (``_floor_long``), and sim_i is NULL when na·nb
    is 0 or NULL, when either vector is NULL or holds a NULL element,
    or when the two lengths differ. A pair (a ≠ b) is PRESENT when
    both docs joined an embedding row, so a hybrid pool doc without
    one is unpickable after round 1, as in the oracle's inner joins.
    The group then runs ``_make_greedy_kernel``'s ``fold_one``.

    The plan stays lazy: no persist, no driver job. The groupBy
    needs the pool clustered by query_id, which the brute pool's
    ranking window already provides, so the pool subtree runs once
    under one exchange. The pool is queries × pool_k rows, constant
    in corpus size, and every query folds in parallel."""
    import numpy as np
    import pyarrow as pa

    # build the kernel PER CALL, not at module import: reading
    # MMR_W_REL/MMR_W_DIV at use keeps the engine in lockstep with the
    # oracle SQL, which interpolates the params at its own build time
    fold_one = _make_greedy_kernel()
    kk = int(k)

    def select(key, tbl):
        ids = tbl.column("doc_id").to_pylist()
        has = tbl.column("has_vec").to_pylist()
        vecs = tbl.column("vd").to_pylist()
        nds = tbl.column("nd").to_pylist()
        present = {
            (a, b)
            for a, ha in zip(ids, has)
            if ha
            for b, hb in zip(ids, has)
            if hb and a != b
        }
        # a non-NULL sim needs both vectors free of NULLs, equal
        # lengths and both norms non-NULL: block the rows by length
        by_len: dict = {}
        for i, (h, v, nv) in enumerate(zip(has, vecs, nds)):
            if h and v is not None and nv is not None and None not in v:
                by_len.setdefault(len(v), []).append(i)
        sim: dict = {}
        for d, rows in by_len.items():
            X = np.asarray([vecs[i] for i in rows], dtype=np.float64)
            X = X.reshape(len(rows), d)
            dots = np.zeros((len(rows), len(rows)), dtype=np.float64)
            for j in range(d):
                dots += np.multiply.outer(X[:, j], X[:, j])
            nrm = np.asarray([nds[i] for i in rows], dtype=np.float64)
            den = np.multiply.outer(nrm, nrm)
            with np.errstate(divide="ignore", invalid="ignore"):
                s = _floor_long(dots / den * 1e6 + 0.5).tolist()
            rid = [ids[i] for i in rows]
            for x, y in zip(*np.nonzero(den != 0)):
                if rid[x] != rid[y]:
                    sim[(rid[x], rid[y])] = s[x][y]
        cand = dict(zip(ids, tbl.column("rel_i").to_pylist()))
        picks = fold_one(cand, present, sim, kk)
        qid = key[0].as_py()
        return pa.table(
            {
                "query_id": pa.array([qid] * len(picks), pa.int64()),
                "doc_id": pa.array([p[0] for p in picks], pa.int64()),
                "rel_i": pa.array([p[1] for p in picks], pa.int64()),
                "pick_order": pa.array([p[2] for p in picks], pa.int32()),
                # NULL when every sim to the selected docs is NULL
                "mmr_i": pa.array([p[3] for p in picks], pa.int64()),
            }
        )

    return (
        pool.select("query_id", "doc_id", "rel_i", "vd", "nd", "has_vec")
        .groupBy("query_id")
        .applyInArrow(
            select,
            "query_id long, doc_id long, rel_i long, "
            "pick_order int, mmr_i long",
        )
    )


def _mmr_output(selected: DataFrame, rel_name: str = "relevance") -> DataFrame:
    """the MMR entry points' shared output tail: fixed-point rel_i
    and mmr_i back to doubles (``rel_name`` is ``relevance`` for the
    cosine pools, ``rel_norm`` for hybrid_mmr's normalized RRF)."""
    from rsbsa_etl_spark.params import MMR_FIXED_SCALE

    return selected.select(
        "query_id",
        "doc_id",
        "pick_order",
        (F.col("rel_i").cast("double") / F.lit(1e6)).alias(rel_name),
        (F.col("mmr_i").cast("double") / F.lit(MMR_FIXED_SCALE)).alias(
            "mmr"
        ),
    )


def mmr_rerank(
    emb: DataFrame,
    query_ids=ANN_QUERY_IDS,
    pool_k: int | None = None,
    k: int | None = None,
) -> DataFrame:
    """Maximal Marginal Relevance diversity re-rank (Carbonell &
    Goldstein, SIGIR'98): per query, greedily pick ``k`` documents
    from the cosine top-``pool_k`` pool, each pick maximizing
    ``λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s)`` — the standard
    redundancy-suppressing selection between retrieval and a context
    window.

    Determinism: similarities are quantized to 1e-6 integers at the
    source and λ is applied as EXACT integer weights derived from
    ``MMR_LAMBDA`` in params (λ=0.7 → ``mmr_i = 7·rel_i −
    3·max_sim_i``, fixed point at ``MMR_FIXED_SCALE``; the oracle
    reads the same constants, so the two engines cannot drift), so
    every round's argmax is integer arithmetic — no float
    accumulation anywhere in the greedy loop, hence bit-identical
    picks in any engine. Ties break on doc_id. The first pick
    maximizes relevance alone (max-sim term 0 by convention — same
    argmax as the classic "seed with the most relevant" form).

    Scale: the greedy stage never touches the corpus — it runs on
    the retrieved pool (``queries × pool_k`` rows; the pairwise
    similarities are pool-bounded at ``pool_k²`` per query,
    independent of corpus size), which is the textbook deployment of
    MMR as a re-ranker behind an ANN retriever. The corpus-sized work
    is one broadcast-queries scan (the ann_bruteforce plan — swap in
    the IVF/LSH arm at billion-vector scale; the re-rank stage is
    unchanged). The result is a lazy plan (see ``_greedy_mmr``):
    building it collects only the query vectors, and it holds no
    cache, so a long-lived serving caller accumulates nothing.
    """
    from rsbsa_etl_spark.params import MMR_POOL_K, MMR_SELECT_K

    pool_k = MMR_POOL_K if pool_k is None else pool_k
    k = MMR_SELECT_K if k is None else k
    # normalize ONCE: a one-shot iterator must reach the pool build
    qset = [int(q) for q in query_ids]
    pool = _mmr_pool(emb, qset, pool_k).withColumn("has_vec", F.lit(True))
    return _mmr_output(_greedy_mmr(pool, k))


def mmr_rerank_ivf(
    emb: DataFrame,
    query_ids=ANN_QUERY_IDS,
    pool_k: int | None = None,
    k: int | None = None,
    n_centroids: int | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """MMR diversity re-rank over an IVF-retrieved pool — the
    billion-vector deployment shape ``mmr_rerank``'s docstring
    promises ("swap in the IVF arm at scale; the re-rank stage is
    unchanged"), now shipped as its own oracle-checked operator:
    the pool is ``_mmr_pool`` under ``ivf_topk``'s restriction
    (broadcast centroid probe, ~nprobe/n_cells of the corpus touched
    per query) instead of the brute-force scan — one scoring kernel
    that also carries the pool's vectors out, so the corpus is
    scanned once — then the SAME greedy kernel (in-pool similarities
    included) and output contract as ``mmr_rerank``.

    Relevance is the IVF arm's cosine (dec-rounded to 1e-4)
    requantized to the kernel's 1e-6 integer grid (see
    ``_mmr_pool``), so the oracle composes the IVF SQL with the
    shared MMR unroll verbatim. A query's pool can hold
    fewer than ``pool_k`` docs (only probed cells compete — that is
    the approximation being bought); the kernel and the unroll both
    stop early on exhausted pools.

    Scale: corpus-sized work drops from ``mmr_rerank``'s
    O(corpus × queries) brute-force scan to the IVF probe's
    O(corpus + queries × corpus · nprobe/n_cells); the greedy stage
    is unchanged and pool-bounded. Like ``mmr_rerank`` the result is
    a lazy plan that holds no cache."""
    from rsbsa_etl_spark.params import (
        IVF_CENTROIDS,
        IVF_NPROBE,
        MMR_POOL_K,
        MMR_SELECT_K,
    )

    pool_k = MMR_POOL_K if pool_k is None else pool_k
    k = MMR_SELECT_K if k is None else k
    qset = [int(q) for q in query_ids]
    # the IVF dial passes through (defaults = the oracle-checked
    # params config; a production caller sizes n_centroids ~ sqrt(n)
    # like knn_graph_ivf so nprobe/n_cells actually prunes — the
    # fixture's 16-cell default probes half the corpus, see
    # SCALING.md "mmr_rerank_ivf vs mmr_rerank")
    n_centroids = IVF_CENTROIDS if n_centroids is None else n_centroids
    nprobe = IVF_NPROBE if nprobe is None else nprobe
    pool = _mmr_pool(emb, qset, pool_k, ivf=(n_centroids, nprobe))
    return _mmr_output(_greedy_mmr(pool.withColumn("has_vec", F.lit(True)), k))


def ivf_pool_min_queries(n_centroids: int, nprobe: int) -> int:
    """the measured brute/IVF POOL crossover (SCALING.md, 200 k
    vectors, round 12), as the formula both rows bracket: brute fold
    work ∝ corpus × queries; in-plan IVF ∝ corpus × cells (the
    assignment pass, paid once per plan) + corpus × nprobe/cells ×
    queries (the probes). Equal at

        queries = cells / (1 − nprobe/cells)

    (≈ 455 at 447 cells / nprobe 8 — bracketed by the measured 25-
    query 26× brute win and 1000-query 5.2× IVF win). Below this an
    in-plan IVF pool is the WRONG plan at any corpus size: the
    assignment dwarfs the brute scan until the batch outgrows the
    cell count. Degenerate configs (nprobe ≥ cells — the probe scans
    everything, IVF can never win in-plan) return a sentinel that
    no batch reaches."""
    if nprobe >= n_centroids:
        return 2**62
    import math

    return max(1, math.ceil(n_centroids / (1.0 - nprobe / n_centroids)))


def mmr_rerank_auto(
    emb: DataFrame,
    query_ids=ANN_QUERY_IDS,
    pool_k: int | None = None,
    k: int | None = None,
    n_centroids: int | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """params-driven POOL auto-dial over the two MMR retrieval arms,
    from the measured crossover instead of a guess: batches below
    ``ivf_pool_min_queries(cells, nprobe)`` keep the brute-force pool
    (one broadcast-queries scan — measured 26× faster at 25 queries /
    200 k vectors, where the IVF assignment pass dwarfs everything),
    batches at or above it take the in-plan IVF pool (measured 5.2×
    faster at 1000 queries, gap growing linearly past the crossover
    as the assignment amortizes).

    Delegates verbatim — picks are bit-identical to the explicit arm
    on each side of the threshold (pinned by test), and both explicit
    keys stay registered and oracle-checked; this entry point only
    chooses between them. A serving process with a PERSISTED IVF
    index (sources/ann_index.py) should query that instead: the
    assignment is paid at build time, which moves the crossover to
    zero."""
    from rsbsa_etl_spark.params import IVF_CENTROIDS, IVF_NPROBE

    cells = IVF_CENTROIDS if n_centroids is None else n_centroids
    probe = IVF_NPROBE if nprobe is None else nprobe
    qset = [int(q) for q in query_ids]
    if len(qset) >= ivf_pool_min_queries(cells, probe):
        return mmr_rerank_ivf(
            emb, qset, pool_k, k, n_centroids=cells, nprobe=probe
        )
    return mmr_rerank(emb, qset, pool_k, k)


def hybrid_mmr(
    docs: DataFrame,
    emb: DataFrame,
    query_ids=ANN_QUERY_IDS,
    k: int | None = None,
) -> DataFrame:
    """the full modern retrieval stack, composed: hybrid
    lexical+vector retrieval (RRF-fused top-``HYBRID_TOP_K``) →
    greedy MMR diversity re-rank over the fused pool — retrieve,
    fuse, THEN de-duplicate the context, which is the deployment
    shape of retrieval-augmented pipelines (fusion fixes arm-scale
    incomparability; MMR fixes near-duplicate retrievals crowding
    the context window).

    Relevance for the greedy stage is the fused RRF score
    normalized per query to [0, 1] (``rrf / max(rrf)`` — RRF's
    absolute scale is meaningless across pool sizes) and quantized
    to 1e-6 integers; diversity is embedding cosine at the same
    quantization; the selection is the SAME ``_greedy_mmr`` kernel
    (and the oracle the same SQL unroll) as ``mmr_rerank``, so the
    two entry points cannot drift. A pool doc with no embedding row
    can win round 1 on relevance but is unpickable after it.

    Scale: the pool is ``queries × HYBRID_TOP_K`` rows — the greedy
    stage never touches the corpus; corpus-sized work is exactly the
    hybrid retrieval's (posting-list join + one broadcast-query
    vector scan), and it runs ONCE. The build is eager, because the
    hybrid corpus cache must be released: one job materializes the
    pool persist, the corpus cache is released, and a second job
    materializes the selection into a result-sized persist (queries
    × k rows) before the pool cache is released too. The returned
    frame IS that persist: the CALLER owns it and should
    ``unpersist()`` it once the picks are consumed.
    """
    from rsbsa_etl_spark.params import MMR_SELECT_K

    k = MMR_SELECT_K if k is None else k
    # normalize ONCE: a one-shot iterator must reach the retrieval
    query_ids = [int(q) for q in query_ids]
    fused, corpus = _hybrid_parts(docs, emb, query_ids)
    wq = Window.partitionBy("query_id")
    pool = (
        fused.select("query_id", "doc_id", "rrf")
        .withColumn(
            "rel_i",
            F.floor(
                F.col("rrf") / F.max("rrf").over(wq) * F.lit(1e6)
                + F.lit(0.5)
            ).cast("long"),
        )
        .select("query_id", "doc_id", "rel_i")
        .persist()
    )
    e = with_norm(emb.select(F.col("vec_id").alias("doc_id"), "embedding"))
    # the inner join lets the tiny pool be the broadcast side; a left
    # join straight onto the corpus would have to build the corpus
    vecs = pool.join(
        e.select(
            "doc_id", F.col("_vd").alias("vd"), F.col("_norm").alias("nd")
        ),
        "doc_id",
    ).select("query_id", "doc_id", "vd", "nd", F.lit(True).alias("has_vec"))
    pv = pool.join(vecs, ["query_id", "doc_id"], "left").withColumn(
        "has_vec", F.coalesce(F.col("has_vec"), F.lit(False))
    )
    try:
        # one job runs the whole hybrid retrieval into the pool cache
        # (all four corpus subtrees execute inside it); the corpus
        # cache is released right after, and again in the finally so
        # a failed selection cannot strand it (unpersist is idempotent)
        pool.count()
        corpus.unpersist()
        selected = _mmr_output(_greedy_mmr(pv, k), "rel_norm").persist()
        selected.count()
    finally:
        pool.unpersist()
        corpus.unpersist()
    return selected


def prf_expand(
    docs: DataFrame,
    emb: DataFrame,
    query_ids=ANN_QUERY_IDS,
    m: int | None = None,
) -> DataFrame:
    """pseudo-relevance-feedback query expansion (Rocchio PRF /
    RM-style): mine the top-``m`` expansion terms per query from its
    hybrid top-``HYBRID_TOP_K`` feedback documents, scored by
    Σ tf·idf over the feedback set with the query's own terms
    excluded — the classic retrieve → expand → re-retrieve loop's
    middle stage, composed on the same verified hybrid pipeline.

    Scoring is the shared ``rational_idf`` (transcendental-free)
    weighted by term frequency, quantized per product BEFORE the
    sum (``fixed_sum``) so accumulation order cannot drift the
    score; ties break on the term string. Output:
    (query_id, term, prf_score, rank).

    Scale: the feedback term join touches only ``queries × top_k``
    documents' term rows (broadcast onto the vocabulary-bounded df
    table); corpus-sized work is the hybrid retrieval itself plus
    the one df aggregation, both already scale-shaped. Persist
    contract: shares the hybrid corpus session cache
    (``hybrid_search_rrf``'s documented contract — loop-running
    callers clearCache between runs, as bench.py does).
    """
    from rsbsa_etl_spark.params import PRF_EXPANSION_TERMS

    m = PRF_EXPANSION_TERMS if m is None else m
    # normalize ONCE — _hybrid_parts and the local qset below both
    # consume query_ids (r11 advice item 1)
    qset = [int(q) for q in query_ids]
    fused, corpus = _hybrid_parts(docs, emb, qset)
    return _prf_expand_from(fused, corpus, qset, m)


def _prf_expand_from(
    fused: DataFrame, corpus: DataFrame, qset: list, m: int
) -> DataFrame:
    """the feedback-mining stage of ``prf_expand``, factored over an
    ALREADY-BUILT hybrid retrieval (``_hybrid_parts``' fused list +
    persisted corpus handle) so composers that need both the
    expansion terms AND further corpus streams — ``prf_requery`` —
    run the hybrid pipeline and its corpus scan ONCE instead of
    nesting a second, independent build (measured ~1.5× on the
    fixture; at scale the duplicated docs⋈embeddings normalize-join
    is corpus-sized)."""
    cand = corpus.where(~F.col("doc_id").isin(qset))
    tf_terms = (
        cand.select(
            "doc_id", F.explode(F.split("norm", " ")).alias("term")
        )
        .where(F.length("term") > 0)
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    dfs = tf_terms.groupBy("term").agg(F.count("*").alias("df"))
    n_tbl = cand.select(F.count("*").alias("n_docs"))
    qterms = (
        corpus.where(F.col("doc_id").isin(qset))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.split("norm", " ")).alias("term"),
        )
        .where(F.length("term") > 0)
        .distinct()
    )
    # feedback term rows are queries×top_k documents' vocabularies —
    # tiny; broadcast them onto the df table, never the reverse
    # (the fused list itself broadcasts onto the per-doc term table)
    tf_fb = tf_terms.join(
        F.broadcast(fused.select("query_id", "doc_id")), "doc_id"
    )
    scored = (
        dfs.join(F.broadcast(tf_fb), "term")
        .join(F.broadcast(n_tbl))
        .groupBy("query_id", "term")
        .agg(
            fixed_sum(
                F.col("tf")
                * rational_idf(F.col("n_docs"), F.col("df")),
                6,
                alias="prf_score",
            )
        )
        .join(F.broadcast(qterms), ["query_id", "term"], "left_anti")
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("prf_score").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= m)
        .select(
            "query_id",
            "term",
            "prf_score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def prf_requery(
    docs: DataFrame,
    emb: DataFrame,
    query_ids=ANN_QUERY_IDS,
    m: int | None = None,
    top_k: int | None = None,
) -> DataFrame:
    """the retrieve→expand→RE-RETRIEVE loop's final pass (round 12,
    completing the PRF story ``prf_expand`` is the middle stage of):
    re-run lexical retrieval with the EXPANDED query — original
    distinct query terms weighted ``PRF_W_ORIG`` plus the top-``m``
    mined expansion terms weighted ``PRF_W_EXPANSION`` (the
    RM3-style anchor-the-original interpolation as exact integer
    weights) — scoring Σ weight·rational_idf over matched DISTINCT
    terms, quantized per term BEFORE the sum (``fixed_sum``), ties
    on doc_id. Output: (query_id, doc_id, requery_score, rank),
    top-``HYBRID_TOP_K`` per query.

    Scale: the expanded term set is queries × (|q| + m) rows —
    broadcast onto the distinct-term posting list exactly like the
    hybrid lexical arm (one corpus term scan, map-side partial agg);
    the expensive stage is the nested ``prf_expand`` (hybrid
    retrieval + feedback mining), which is already scale-shaped.
    Corpus membership matches the hybrid pipeline (documents ⋈
    embeddings), so the three loop stages rank over one universe.
    Persist contract: shares the hybrid corpus session cache
    (loop-running callers clearCache between runs, as bench.py
    does)."""
    from rsbsa_etl_spark.params import (
        HYBRID_TOP_K as _TOPK,
        PRF_EXPANSION_TERMS,
        PRF_W_EXPANSION,
        PRF_W_ORIG,
    )

    m = PRF_EXPANSION_TERMS if m is None else m
    top_k = _TOPK if top_k is None else top_k
    qset = [int(q) for q in query_ids]
    # ONE hybrid build for the whole loop: the expansion mining and
    # every corpus stream below (query terms, candidate terms, the
    # candidate count) read _hybrid_parts' persisted corpus handle —
    # the previous form nested prf_expand(docs, emb, ...) and then
    # re-derived its own docs⋈embeddings normalize-join from scratch,
    # running the corpus-sized stage twice per call (measured ~1.5×
    # on the fixture).
    fused, corpus = _hybrid_parts(docs, emb, qset)
    exp_terms = _prf_expand_from(fused, corpus, qset, m).select(
        "query_id", "term", F.lit(int(PRF_W_EXPANSION)).alias("w")
    )
    qterms = (
        corpus.where(F.col("doc_id").isin(qset))
        .select(
            F.col("doc_id").alias("query_id"),
            F.explode(F.split("norm", " ")).alias("term"),
        )
        .where(F.length("term") > 0)
        .distinct()
        .select("query_id", "term", F.lit(int(PRF_W_ORIG)).alias("w"))
    )
    wterms = qterms.unionByName(exp_terms)
    cand = corpus.where(~F.col("doc_id").isin(qset))
    terms = (
        cand.select("doc_id", F.explode(F.split("norm", " ")).alias("term"))
        .where(F.length("term") > 0)
        .distinct()
    )
    dfs = terms.groupBy("term").agg(F.count("*").alias("df"))
    n_tbl = cand.select(F.count("*").alias("n_docs"))
    # the weighted term set (tiny: queries × (|q| + m) rows, but its
    # lineage nests the whole feedback-mining stage) broadcasts onto
    # the term stream ONCE; the vocabulary df table then joins the
    # matched stream NORMALLY — co-partitioned shuffle on term, with
    # the matched side already restricted to the weighted terms. The
    # df table is never broadcast: it grows with the corpus
    # vocabulary and would exceed broadcast limits / OOM the driver
    # at scale (r12 advice item 1 — prf_expand's own discipline of
    # broadcasting only the small side). At fixture scale AQE
    # converts the tiny dfs exchange to a broadcast by itself;
    # at 100 TB it stays a shuffle join, which is the correct plan.
    # (Measured alternatives, same window: deriving a |wterms|-bounded
    # df table for a safe broadcast re-executes the mining subtree
    # through the second wterms broadcast — 1.3× slower; an eager
    # persist+count of wterms serializes the stage graph — 1.4×.)
    scored = (
        terms.join(F.broadcast(wterms), "term")
        .join(dfs, "term")
        .join(F.broadcast(n_tbl))
        .groupBy("query_id", "doc_id")
        .agg(
            fixed_sum(
                F.col("w") * rational_idf(F.col("n_docs"), F.col("df")),
                6,
                alias="requery_score",
            )
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("requery_score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= top_k)
        .select(
            "query_id",
            "doc_id",
            "requery_score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def context_pack(
    docs: DataFrame,
    emb: DataFrame,
    query_ids=ANN_QUERY_IDS,
    budget: int | None = None,
) -> DataFrame:
    """context-window assembly — the stage AFTER diversity re-rank
    in a retrieval-augmented pipeline (round 12): fill each query's
    context with its MMR picks in pick order until the cumulative
    token count exceeds ``budget`` (greedy prefix — the standard
    deployment: the re-ranker already ordered by marginal utility,
    so the budget cut is a running-sum window, not a knapsack).

    Output: (query_id, doc_id, pick_order, n_tokens, cum_tokens,
    included) — every pick is reported with its running total so the
    caller sees both the packed context AND what the budget cut;
    token counts are the repo's whitespace-token convention
    (``tokens_col``), NULL text counting 0. Picks without a document
    row are excluded by the inner join (one id space in the fixture
    corpus).

    Scale: the corpus-sized side is ONE documents scan; the picks
    table (queries × k rows) broadcasts onto it, and the running sum
    is a window over the tiny joined result. The expensive stage is
    the nested ``mmr_rerank`` retrieval, already scale-shaped.
    """
    from rsbsa_etl_spark.functions.dedup import tokens_col
    from rsbsa_etl_spark.params import CONTEXT_TOKEN_BUDGET

    budget = CONTEXT_TOKEN_BUDGET if budget is None else budget
    qset = [int(q) for q in query_ids]
    picks = mmr_rerank(emb, qset).select("query_id", "doc_id", "pick_order")
    ntok = docs.select(
        "doc_id",
        F.when(F.col("text").isNull(), F.lit(0))
        .otherwise(F.size(tokens_col(F.col("text"))))
        .cast("long")
        .alias("n_tokens"),
    )
    j = ntok.join(F.broadcast(picks), "doc_id")
    wc = (
        Window.partitionBy("query_id")
        .orderBy("pick_order")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "query_id",
        "doc_id",
        "pick_order",
        "n_tokens",
        F.sum("n_tokens").over(wc).cast("long").alias("cum_tokens"),
        (F.sum("n_tokens").over(wc) <= F.lit(budget)).alias("included"),
    )
