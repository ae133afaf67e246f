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
    _topk_scores_arrow,
    dot,
    safe_div,
    with_norm,
)
from rsbsa_etl_spark.functions.textstats import rational_idf
from rsbsa_etl_spark.streaming import plan_capture
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


def _pairwise_sims(pv: DataFrame) -> DataFrame:
    """pairwise in-pool cosine similarities at the MMR quantization
    — ONE construction (a/b aliasing, 1e-6 floor) shared by
    mmr_rerank and hybrid_mmr, feeding ``_greedy_mmr``. Input:
    (query_id, doc_id, vd, nd) pool rows with vectors and norms."""
    a = pv.select(
        "query_id",
        F.col("doc_id").alias("a_id"),
        F.col("vd").alias("va"),
        F.col("nd").alias("na"),
    )
    b = pv.select(
        "query_id",
        F.col("doc_id").alias("b_id"),
        F.col("vd").alias("vb"),
        F.col("nd").alias("nb"),
    )
    sim_i = F.floor(
        safe_div(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb"))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    return (
        a.join(b, ["query_id"])
        .where(F.col("a_id") != F.col("b_id"))
        .select("query_id", "a_id", "b_id", sim_i.alias("sim_i"))
    )


def _mmr_pool(emb: DataFrame, qset: list, pool_k: int) -> DataFrame:
    """``mmr_rerank``'s retrieval-pool plan, factored so the scaling
    harness (tools/measure_mmr_scale.py) measures the SHIPPED pool
    construction instead of a hand-copied twin that could silently
    drift (r11 advice item 4). Returns the UNPERSISTED
    (query_id, doc_id, vd, nd, rel_i) top-``pool_k`` plan: the
    brute-force cosine retrieval with broadcast query vectors,
    1e-6 fixed-point relevance, (rel desc, doc_id asc) ranked
    window, self-matches and NULL relevance excluded.

    The scoring runs in the Arrow batch kernel
    (``_topk_scores_arrow`` — the oracle's fold arithmetic and
    Spark's floor→long cast, batch-local top-``pool_k`` cut), and
    the kernel carries each surviving row's (vd, nd) through so the
    pool costs ONE corpus scan and the ranking window's exchange
    carries batch-local candidates, not corpus × queries rows."""
    qrows = _collect_id_vecs(
        emb.where(F.col("vec_id").isin(qset)), "vec_id", "embedding"
    )
    scored = _topk_scores_arrow(
        emb.select(F.col("vec_id").alias("doc_id"), "embedding"),
        qrows,
        "embedding",
        "doc_id",
        pool_k,
        out_col="rel_i",
        fixed_long=True,
        drop_null=True,
        keep_vec=True,
    )
    wp = Window.partitionBy("query_id").orderBy(
        F.col("rel_i").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(wp))
        .where(F.col("rn") <= pool_k)
        .select("query_id", "doc_id", "vd", "nd", "rel_i")
    )


def _make_greedy_kernel():
    """factory for the per-query greedy MMR kernel — pure-Python
    exact-integer arithmetic shared by the driver-side fold, the
    distributed per-group fold, and the kernel unit tests.

    A FACTORY, not a plain module-level def, for ship-by-reference
    pickling: the cogrouped fold closes over this kernel and ships
    it to Python workers — a module-level function pickles by NAME
    and crashes workers with ModuleNotFoundError whenever the driver
    runs outside the repo root (the /tmp driver contract; pytest's
    cwd=repo never catches it). A factory-made closure pickles by
    VALUE, and the λ weights are captured here as plain ints so the
    worker-side kernel never imports the package either.

    Kernel contract — ``fold_one(cand, present, sim, k)``: ``cand``
    maps doc_id → rel_i; ``present`` holds the (candidate, selected)
    pairs that EXIST as rows, pinning the oracle unroll's edge
    semantics (its rounds >= 2 INNER JOIN pool->pairs->selected: a
    pool doc with no candidate-oriented row to any selected doc is
    UNPICKABLE after round 1 — e.g. a hybrid pool doc whose
    embedding row was dropped by the pv inner join); ``sim`` holds
    only NON-NULL sim_i (SQL max() skips NULLs — a NULL sim_i is
    producible by safe_div on a zero-norm pool embedding). A
    candidate whose every sim-to-selected is NULL gets mmr_i = None,
    which ranks LAST (the oracle's ORDER BY mmr_i DESC under
    DuckDB's NULLS LAST default). The lookup is DIRECTIONAL — a
    pairs row counts only as (a_id = candidate, b_id = selected),
    exactly the oracle join ``pr.a_id = p.doc_id AND s.doc_id =
    pr.b_id`` — so the two engines agree on ANY pairs input;
    producers of symmetric similarities must emit both orientations
    (``_pairwise_sims`` does, by construction). Returns
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


def _greedy_mmr(
    slim: DataFrame, pairs: DataFrame, k: int, distributed: bool = False
) -> DataFrame:
    """the greedy MMR selection loop — ONE kernel
    (``_greedy_fold_one``) shared by ``mmr_rerank`` (cosine
    relevance) and ``hybrid_mmr`` (RRF relevance), and mirrored
    round-for-round by the oracles' shared unroll, so the
    integer-weight argmax semantics cannot drift between entry
    points. Inputs: ``slim`` = (query_id, doc_id, rel_i) candidate
    pool, ``pairs`` = (query_id, a_id, b_id, sim_i) pairwise pool
    similarities — both 1e-6 fixed-point integers. Returns
    (query_id, doc_id, rel_i, pick_order, mmr_i).

    Execution shape — two arms, same kernel, same oracle:

    - ``distributed=False`` (small query sets): the fold runs
      DRIVER-SIDE over a collected pool — a deliberate bounded
      collect (the repo's BPE-argmax exception class): the pool is
      queries × pool_k rows and pairs ≤ queries × pool_k², both
      CONSTANT in corpus size by construction (only the retrieval
      stage ever touches the corpus). Zero shuffle and zero
      Python-stage infrastructure: measured ~0.3-0.9s faster at
      sf0.1 when the cogrouped arm's Python workers start cold
      (isolated sessions); comparable in warm sessions (r11
      BENCH_FULL: dist 0.633s vs driver 0.909s) — the driver arm's
      real advantage is small interactive batches, its real limit
      the serial wall above.
    - ``distributed=True`` (serving-scale query batches): a
      COGROUPED Arrow fold — both inputs shuffle by ``query_id``
      (still pool-bounded) and each query's selection runs
      independently as one pandas group, so the stage scales with
      the QUERY SET instead of serializing on the driver (the
      r9/r10 verdicts' linear-in-query-set watch item: a 10k-query
      batch folds in parallel instead of ~30s serial). sim_i/rel_i
      are 1e6-scaled longs, so Arrow's float64 transport of
      nullable longs is exact far below 2^53.

    Callers pick via ``MMR_DIST_MIN_QUERIES`` (params); the picks
    are bit-identical either way — ``mmr_rerank_dist`` keeps the
    distributed arm under the driver's oracle gate, and the kernel
    unit tests run both arms.

    An even earlier form ran k Spark jobs of joins + windows with a
    localCheckpoint per pick — measured ~0.4s of scheduler overhead
    per pick (2-4s per key at any SF, invariant in the data); both
    current arms replaced it."""
    import pandas as pd

    # build the kernel PER CALL, not at module import: the factory is
    # cheap and reading MMR_W_REL/MMR_W_DIV at use keeps the engine in
    # lockstep with the oracle SQL, which interpolates the params at
    # its own build time — an import-time instance would freeze the
    # weights and silently diverge from a monkeypatched oracle
    # (r11 advice item 3)
    fold_one = _make_greedy_kernel()

    if not distributed:
        spark = slim.sparkSession
        # audit evidence: the driver arm's two bounded collects are
        # the fold's only Spark jobs — capture their executed plans
        # (gate-closed no-op outside the audit; see plan_capture)
        slim_df = slim.select("query_id", "doc_id", "rel_i")
        pairs_df = pairs.select("query_id", "a_id", "b_id", "sim_i")
        plan_capture.record(slim_df, "mmr_pool")
        plan_capture.record(pairs_df, "mmr_pairs")
        pool_rows = slim_df.collect()
        # group the pairs rows per query in ONE pass — a per-query
        # filter over the flat collect would rescan queries × pairs
        # rows, turning the serial arm quadratic in the query count
        # (measured 247s at 1600 queries before this grouping vs
        # 3s after; tools/measure_mmr_scale.py)
        present_q: dict = {}
        sim_q: dict = {}
        for r in pairs_df.collect():
            q, kk = r["query_id"], (r["a_id"], r["b_id"])
            present_q.setdefault(q, set()).add(kk)
            if r["sim_i"] is not None:
                sim_q.setdefault(q, {})[kk] = r["sim_i"]
        by_q: dict = {}
        for r in pool_rows:
            by_q.setdefault(r["query_id"], {})[r["doc_id"]] = r["rel_i"]
        out = []
        for qid in sorted(by_q):
            picks = fold_one(
                by_q[qid],
                present_q.get(qid, set()),
                sim_q.get(qid, {}),
                k,
            )
            out.extend((qid, *row) for row in picks)
        return spark.createDataFrame(
            out,
            "query_id long, doc_id long, rel_i long, "
            "pick_order int, mmr_i long",
        )

    def _result(rows_q) -> "pd.DataFrame":
        return pd.DataFrame(
            {
                "query_id": pd.array([r[0] for r in rows_q], dtype="int64"),
                "doc_id": pd.array([r[1] for r in rows_q], dtype="int64"),
                "rel_i": pd.array([r[2] for r in rows_q], dtype="int64"),
                "pick_order": pd.array(
                    [r[3] for r in rows_q], dtype="int32"
                ),
                # nullable: an all-NULL-sims pick carries mmr_i NULL
                "mmr_i": pd.array([r[4] for r in rows_q], dtype="Int64"),
            }
        )

    def fold(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        if len(left) == 0:
            # cogroup emits keys present only in pairs: no pool rows,
            # nothing pickable
            return _result([])
        qid = int(left["query_id"].iloc[0])
        cand = {
            int(d): int(r) for d, r in zip(left["doc_id"], left["rel_i"])
        }
        present: set = set()
        sim: dict = {}
        for a, b, s in zip(right["a_id"], right["b_id"], right["sim_i"]):
            kk = (int(a), int(b))
            present.add(kk)
            if pd.notna(s):
                sim[kk] = int(s)
        return _result(
            [(qid, *row) for row in fold_one(cand, present, sim, k)]
        )

    # both inputs usually derive from the same cached pool plan —
    # re-alias every column (fresh expression ids) so the cogroup's
    # internal self-join never sees the shared query_id attribute
    # (AnalysisException: "Column query_id are ambiguous" otherwise)
    def _fresh(df: DataFrame, cols: list) -> DataFrame:
        return df.select(*[F.col(c).alias(c) for c in cols])

    return (
        _fresh(slim, ["query_id", "doc_id", "rel_i"])
        .groupBy("query_id")
        .cogroup(
            _fresh(pairs, ["query_id", "a_id", "b_id", "sim_i"]).groupBy(
                "query_id"
            )
        )
        .applyInPandas(
            fold,
            "query_id long, doc_id long, rel_i long, "
            "pick_order int, mmr_i long",
        )
    )


def mmr_rerank(
    emb: DataFrame,
    query_ids=ANN_QUERY_IDS,
    pool_k: int | None = None,
    k: int | None = None,
    distributed: bool | None = None,
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
    stage is pool-bounded at ``pool_k²`` per query, independent of
    corpus size), which is the textbook deployment of MMR as a
    re-ranker behind an ANN retriever. The corpus-sized work is one
    broadcast-queries scan (the ann_bruteforce plan — swap in the
    IVF/LSH arm at billion-vector scale; the re-rank stage is
    unchanged). The greedy selection has two bit-identical arms
    (see ``_greedy_mmr``): ``distributed=None`` auto-picks the
    driver fold below ``MMR_DIST_MIN_QUERIES`` queries (measured
    faster there) and the cogrouped per-query Arrow fold above it
    (serving-scale batches fold in parallel instead of serializing
    on the driver). BOTH arms release the pool persist before
    returning: the driver fold is eager by construction; the
    distributed fold is eagerly materialized into a result-sized
    persist (queries × k rows) after the pool cache is filled with
    one count() — so the fold's two lazy
    consumers (slim + pairwise) read the retrieval output once
    instead of race-building it inside one action (the ann_eval
    lesson), and a long-lived serving caller never accumulates
    POOL-sized cached blocks across calls (r11 advice item 2). The
    distributed arm's returned frame does retain a result-sized
    (queries × k) persist that the CALLER owns — a serving loop
    should ``result.unpersist()`` once the picks are consumed
    (r12 advice item 3).
    """
    from rsbsa_etl_spark.params import (
        MMR_DIST_MIN_QUERIES,
        MMR_FIXED_SCALE,
        MMR_POOL_K,
        MMR_SELECT_K,
    )

    pool_k = MMR_POOL_K if pool_k is None else pool_k
    k = MMR_SELECT_K if k is None else k
    # normalize ONCE up front: the auto-switch length check and the
    # pool build both consume query_ids — a one-shot iterator fed to
    # len(list(...)) first would leave the pool's qset empty and
    # silently return no rows (r11 advice item 1)
    qset = [int(q) for q in query_ids]
    if distributed is None:
        distributed = len(qset) >= MMR_DIST_MIN_QUERIES
    pool = _mmr_pool(emb, qset, pool_k).persist()
    pairs = _pairwise_sims(pool)
    slim = pool.select("query_id", "doc_id", "rel_i")
    if distributed:
        try:
            # eager: ONE retrieval job fills the pool cache; the
            # fold's two lazy consumers (slim + the pairwise
            # self-join) then both read it — unmaterialized, they
            # could race-build the corpus-sized subtree twice within
            # one action (the ann_eval lesson). The fold itself is
            # then eagerly materialized into a result-sized persist
            # (kept plan-visible, unlike a localCheckpoint, so the
            # arm-wiring plan guard still sees the cogroup stage) so
            # the pool cache can release before return — a long-lived serving
            # process calling repeatedly must not accumulate
            # queries × pool_k cached blocks per call (r11 advice
            # item 2); the retained checkpoint is result-sized
            # (queries × k rows).
            pool.count()
            selected = _greedy_mmr(slim, pairs, k, distributed=True).persist()
            selected.count()
        finally:
            pool.unpersist()
    else:
        try:
            selected = _greedy_mmr(slim, pairs, k)
        finally:
            # the driver fold's result is a fresh createDataFrame —
            # pool lineage is not referenced by it, so release even
            # on a mid-fold failure (a retrying caller must not
            # accumulate orphaned cached blocks); the slim collect
            # fills the cache, the pairs collect reuses it
            pool.unpersist()
    return selected.select(
        "query_id",
        "doc_id",
        "pick_order",
        (F.col("rel_i").cast("double") / F.lit(1e6)).alias("relevance"),
        (F.col("mmr_i").cast("double") / F.lit(MMR_FIXED_SCALE)).alias(
            "mmr"
        ),
    )


def mmr_rerank_ivf(
    emb: DataFrame,
    query_ids=ANN_QUERY_IDS,
    pool_k: int | None = None,
    k: int | None = None,
    distributed: bool | None = None,
    n_centroids: int | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """MMR diversity re-rank over an IVF-retrieved pool — the
    billion-vector deployment shape ``mmr_rerank``'s docstring
    promises ("swap in the IVF arm at scale; the re-rank stage is
    unchanged"), now shipped as its own oracle-checked operator:
    the pool comes from ``ivf_topk`` (broadcast centroid probe,
    ~nprobe/n_cells of the corpus touched per query) instead of the
    brute-force scan, then the SAME pairwise quantization, greedy
    kernel, auto-switch, and output contract as ``mmr_rerank``.

    Relevance is the IVF arm's cosine (already dec-rounded to 1e-4)
    requantized to the kernel's 1e-6 integer grid —
    ``floor(cos·1e6 + 0.5)`` of an exact 1e-4-grid double is the
    same integer in both engines, so the oracle composes the IVF SQL
    with the shared MMR unroll verbatim. A query's pool can hold
    fewer than ``pool_k`` docs (only probed cells compete — that is
    the approximation being bought); the kernel and the unroll both
    stop early on exhausted pools.

    Scale: corpus-sized work drops from ``mmr_rerank``'s
    O(corpus × queries) brute-force scan to the IVF probe's
    O(corpus + queries × corpus · nprobe/n_cells); the greedy stage
    is unchanged and pool-bounded. Cache discipline matches
    ``mmr_rerank`` exactly (both arms release the pool persist
    before returning; the distributed fold materializes into a
    result-sized — queries × k — persist that the CALLER owns and
    should unpersist once consumed, r12 advice item 3)."""
    from rsbsa_etl_spark.functions.similarity import ivf_topk
    from rsbsa_etl_spark.params import (
        MMR_DIST_MIN_QUERIES,
        MMR_FIXED_SCALE,
        MMR_POOL_K,
        MMR_SELECT_K,
    )

    pool_k = MMR_POOL_K if pool_k is None else pool_k
    k = MMR_SELECT_K if k is None else k
    qset = [int(q) for q in query_ids]
    if distributed is None:
        distributed = len(qset) >= MMR_DIST_MIN_QUERIES
    # the IVF dial passes through (defaults = the oracle-checked
    # params config; a production caller sizes n_centroids ~ sqrt(n)
    # like knn_graph_ivf so nprobe/n_cells actually prunes — the
    # fixture's 16-cell default probes half the corpus, see
    # SCALING.md "mmr_rerank_ivf vs mmr_rerank")
    from rsbsa_etl_spark.params import IVF_CENTROIDS, IVF_NPROBE

    n_centroids = IVF_CENTROIDS if n_centroids is None else n_centroids
    nprobe = IVF_NPROBE if nprobe is None else nprobe
    e = with_norm(emb)
    pool = (
        ivf_topk(emb, qset, pool_k, n_centroids=n_centroids, nprobe=nprobe)
        .select(
            "query_id",
            F.col("neighbor_id").alias("doc_id"),
            F.floor(F.col("cosine") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("rel_i"),
        )
        .where(F.col("rel_i").isNotNull())
        .join(
            e.select(
                F.col("vec_id").alias("doc_id"),
                F.col("_vd").alias("vd"),
                F.col("_norm").alias("nd"),
            ),
            "doc_id",
        )
        .persist()
    )
    pairs = _pairwise_sims(pool)
    slim = pool.select("query_id", "doc_id", "rel_i")
    if distributed:
        try:
            pool.count()
            selected = _greedy_mmr(slim, pairs, k, distributed=True).persist()
            selected.count()
        finally:
            pool.unpersist()
    else:
        try:
            selected = _greedy_mmr(slim, pairs, k)
        finally:
            pool.unpersist()
    return selected.select(
        "query_id",
        "doc_id",
        "pick_order",
        (F.col("rel_i").cast("double") / F.lit(1e6)).alias("relevance"),
        (F.col("mmr_i").cast("double") / F.lit(MMR_FIXED_SCALE)).alias(
            "mmr"
        ),
    )


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
    distributed: bool | None = None,
    n_centroids: int | None = None,
    nprobe: int | None = None,
) -> DataFrame:
    """params-driven POOL auto-dial over the two MMR retrieval arms
    (r12 verdict item 3 — the greedy-fold auto-switch
    ``MMR_DIST_MIN_QUERIES`` already picks the fold arm; this picks
    the POOL arm by the same principle, from the measured crossover
    instead of a guess): batches below ``ivf_pool_min_queries(cells,
    nprobe)`` keep the brute-force pool (one broadcast-queries scan —
    measured 26× faster at 25 queries / 200 k vectors, where the IVF
    assignment pass dwarfs everything), batches at or above it take
    the in-plan IVF pool (measured 5.2× faster at 1000 queries, gap
    growing linearly past the crossover as the assignment amortizes).

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
            emb, qset, pool_k, k, distributed,
            n_centroids=cells, nprobe=probe,
        )
    return mmr_rerank(emb, qset, pool_k, k, distributed)


def hybrid_mmr(
    docs: DataFrame,
    emb: DataFrame,
    query_ids=ANN_QUERY_IDS,
    k: int | None = None,
    distributed: bool | None = None,
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
    quantization; the selection loop is the SAME ``_greedy_mmr``
    kernel (and the oracle the same SQL unroll) as ``mmr_rerank``,
    so the two entry points cannot drift.

    Scale: the pool is ``queries × HYBRID_TOP_K`` rows — the greedy
    stage never touches the corpus, and it has the two bit-identical
    arms of ``_greedy_mmr`` (``distributed=None`` auto-picks by
    ``MMR_DIST_MIN_QUERIES``); corpus-sized work is exactly the
    hybrid retrieval's (posting-list join + one broadcast-query
    vector scan), and it runs ONCE: the pool persist is eagerly
    materialized, after which the hybrid corpus cache is released
    immediately. BOTH arms release every cache before return: the
    driver fold is eager by construction; the distributed fold
    eagerly materializes into a result-sized persist (queries × k
    rows) so a long-lived serving caller never accumulates POOL
    blocks across calls (r11 advice item 2) — the returned
    result-sized persist is the CALLER's to release once consumed
    (r12 advice item 3).
    """
    from rsbsa_etl_spark.params import (
        MMR_DIST_MIN_QUERIES,
        MMR_FIXED_SCALE,
        MMR_SELECT_K,
    )

    k = MMR_SELECT_K if k is None else k
    # normalize ONCE: the length check and _hybrid_parts both consume
    # query_ids (r11 advice item 1 — a one-shot iterator would leave
    # the retrieval's query set empty after the len())
    query_ids = [int(q) for q in query_ids]
    if distributed is None:
        distributed = len(query_ids) >= MMR_DIST_MIN_QUERIES
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
    pv = pool.join(
        e.select(
            "doc_id", F.col("_vd").alias("vd"), F.col("_norm").alias("nd")
        ),
        "doc_id",
    )
    pairs = _pairwise_sims(pv)
    if distributed:
        try:
            # eager: one job runs the whole hybrid retrieval into the
            # pool cache (all four corpus subtrees execute inside it),
            # after which the corpus cache can be released — the
            # fold's lazy consumers read the materialized pool, not
            # the retrieval subplan. The fold then materializes into
            # a result-sized persist so the pool cache also
            # releases before return (r11 advice item 2 — a serving
            # caller must not accumulate pool blocks per call).
            pool.count()
            # happy-path early release (the fold's lazy consumers read
            # the materialized pool, not the retrieval subplan); the
            # finally repeats it so a mid-fold failure cannot strand
            # the corpus-sized persist (unpersist is idempotent —
            # r12 advice item 2)
            corpus.unpersist()
            selected = _greedy_mmr(pool, pairs, k, distributed=True).persist()
            selected.count()
        finally:
            pool.unpersist()
            corpus.unpersist()
    else:
        try:
            # the driver fold's first collect fills the pool cache
            # (no separate count job); its result is an eager
            # createDataFrame, so every cache releases before return
            selected = _greedy_mmr(pool, pairs, k)
        finally:
            pool.unpersist()
            corpus.unpersist()
    return selected.select(
        "query_id",
        "doc_id",
        "pick_order",
        (F.col("rel_i").cast("double") / F.lit(1e6)).alias("rel_norm"),
        (F.col("mmr_i").cast("double") / F.lit(MMR_FIXED_SCALE)).alias(
            "mmr"
        ),
    )


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
