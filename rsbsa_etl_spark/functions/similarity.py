"""Similarity search over embedding columns (extension surface).

- **brute-force cosine top-k** — the exact baseline: query set ×
  corpus, dot product via ``F.zip_with`` + ``F.aggregate`` (pure
  column lambdas, JVM-side), window row_number for per-query top-k.
- **sign-LSH bucketed ANN** — the scale path: hash every vector to a
  bucket by the sign pattern of its leading dimensions (a fixed
  axis-aligned random-hyperplane family), search only within the
  query's bucket. Recall is tunable via bucket bits / multi-probe;
  the plan shape is a bucket-equi-join instead of a cross join,
  which is what survives 100× data growth.
- **cosine near-dup pairs** — all pairs above a threshold (used by
  ``dedup_embedding``).

All arithmetic is done in double after an explicit cast from the
stored float vectors, matching the DuckDB oracle's promotion rules.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window, functions as F

from rsbsa_etl_spark.functions.numeric import dec_round, fixed_sum
from rsbsa_etl_spark.params import (
    ANN_QUERY_IDS,
    ANN_TOP_K,
    COSINE_THRESHOLD,
    IVF_CENTROIDS,
    IVF_NPROBE,
    LSH_SIGN_DIMS,
    PQ_CODEWORDS,
    PQ_SUBSPACES,
)


def _vec_d(col: str) -> Column:
    """stored float vector → array<double> (explicit, so Spark and
    the oracle promote identically)."""
    return F.transform(F.col(col), lambda x: x.cast("double"))


def with_norm(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """attach L2 norm — computed once per row, reused across every
    pair comparison."""
    v = _vec_d(vec_col)
    sumsq = F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x)
    return df.withColumn("_vd", v).withColumn("_norm", F.sqrt(sumsq))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def safe_div(num: Column, den: Column) -> Column:
    """NULL on a zero denominator — matching DuckDB's x/0 — instead
    of an ANSI DIVIDE_BY_ZERO crash: the cosine of a zero-norm
    vector is undefined, and a NULL similarity drops out of
    threshold predicates and ranks last (both engines default to
    NULLS LAST under DESC) identically."""
    return F.when(den != 0, num / den)


#: per-task cap on the materialized cosine-block size, in MATRIX
#: ELEMENTS (float64): 1<<24 = 128 MB per in-flight block. The tiled
#: all-pairs operators' per-task memory is (tile × tile) — at a fixed
#: n_tiles that grows QUADRATICALLY with the corpus (measured: 200k
#: vectors / 8 tiles = a 25k×25k = 5 GB q matrix per task × 32
#: concurrent tasks → Python workers OOM-crash, round 9). The block
#: kernels therefore sweep the left side in row chunks of
#: ``MAX_BLOCK_ELEMS // |R|`` whenever |L|·|R| exceeds this cap —
#: bit-identical values (each output row's arithmetic is unchanged;
#: only the materialization granularity changes), bounded memory at
#: ANY corpus/tile ratio. n_tiles remains the parallelism dial;
#: this cap removes it as a CORRECTNESS-of-memory dial.
MAX_BLOCK_ELEMS = 1 << 24


def _make_cosine_parts():
    """factory for the shared tiled-block BLAS primitives, shipped BY
    VALUE into applyInPandas closures (a module-level function
    referenced from a closure pickles by name and crashes Python
    workers whenever the driver runs outside the repo root — see the
    verify notes). Returns ``(stack, mm)``: ``stack`` decodes an
    embedding Series to a dense float64 matrix + norms once per
    block side; ``mm`` multiplies any (sub)matrix pair into the
    1e-4-quantized cosine block — ONE implementation for
    cosine_pairs / knn_graph / cosine_pairs_bipartite / the IVF
    cells, so the quantization scale and the zero-norm (0/0 → NaN,
    masked by the callers) contract cannot drift between an operator
    and its oracle. Callers sweep the left side in row chunks
    against ``MAX_BLOCK_ELEMS`` to keep the q matrix bounded.
    """
    import numpy as np

    def stack(emb_series):
        A = np.stack([np.asarray(v, dtype=np.float64) for v in emb_series])
        return A, np.sqrt((A * A).sum(axis=1))

    def mm(A, na, B, nb):
        return np.floor((A @ B.T) / np.outer(na, nb) * 1e4 + 0.5) / 1e4

    return stack, mm


def cosine_pairs_hof(
    emb: DataFrame, threshold: float = COSINE_THRESHOLD
) -> DataFrame:
    """all (a < b) pairs with cosine ≥ threshold — pure column-lambda
    form. Kept as the no-Python reference implementation; the
    higher-order-function fold evaluates per element and is ~20×
    slower than the BLAS kernel below on dense vectors.
    """
    e = with_norm(emb)
    a = e.select(
        F.col("vec_id").alias("vec_a"), F.col("_vd").alias("va"), F.col("_norm").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("vec_b"), F.col("_vd").alias("vb"), F.col("_norm").alias("nb")
    )
    sim = safe_div(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", dec_round(sim, 4).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def cosine_pairs(
    emb: DataFrame, threshold: float = COSINE_THRESHOLD, n_tiles: int = 8
) -> DataFrame:
    """all (a < b) pairs with cosine ≥ threshold — tiled distributed
    block-matmul (exact; no driver-side corpus materialization).

    Rows hash to ``n_tiles`` deterministic tiles (vec_id mod n_tiles);
    every unordered tile pair (ta ≤ tb) becomes one ``applyInPandas``
    group holding exactly the two tiles, which runs the ``A @ B.T``
    BLAS block in bounded row chunks (``MAX_BLOCK_ELEMS``) and emits
    only the above-threshold pairs. Each row is replicated n_tiles+1
    ways through a single shuffle — the O(n·√tasks) replication that
    distributed exact all-pairs costs. Per-task memory is two tiles
    of EMBEDDINGS plus one ≤128 MB q chunk: before round 9 the full
    tile×tile q matrix materialized at once, which grows
    quadratically with the corpus at fixed n_tiles (measured: 25k²
    = 5 GB/task at 200k vectors — worker OOM); the chunk sweep makes
    task memory independent of the corpus/tile ratio, leaving
    ``n_tiles`` purely a parallelism dial. (The earliest
    implementation collected the whole corpus via ``toPandas`` and
    broadcast it — a driver OOM at cluster scale.)

    Quantization mirrors ``numeric.dec_round`` (floor(x·10⁴+0.5)/10⁴)
    so results stay oracle-exact.
    """
    import numpy as np
    import pandas as pd

    t = F.pmod(F.col("vec_id"), F.lit(n_tiles)).cast("int")
    e = emb.select("vec_id", "embedding", t.alias("t"))
    left = e.select(
        F.col("t").alias("ta"),
        F.explode(F.sequence(F.col("t"), F.lit(n_tiles - 1))).alias("tb"),
        "vec_id",
        "embedding",
        F.lit(True).alias("is_left"),
    )
    right = e.select(
        F.explode(F.sequence(F.lit(0), F.col("t"))).alias("ta"),
        F.col("t").alias("tb"),
        "vec_id",
        "embedding",
        F.lit(False).alias("is_left"),
    )

    stack, mm = _make_cosine_parts()
    max_elems = MAX_BLOCK_ELEMS

    def block(key, pdf):
        ta, tb = key
        L = pdf[pdf["is_left"]]
        R = pdf[~pdf["is_left"]]
        if L.empty or R.empty:
            return pd.DataFrame(
                {
                    "vec_a": np.array([], dtype=np.int64),
                    "vec_b": np.array([], dtype=np.int64),
                    "cosine": np.array([], dtype=np.float64),
                }
            )
        A, na = stack(L["embedding"])
        B, nb = stack(R["embedding"])
        all_la = L["vec_id"].to_numpy()
        all_rb = R["vec_id"].to_numpy()
        # chunked sweep: never materialize more than MAX_BLOCK_ELEMS
        # of the q matrix at once — at a fixed n_tiles the full tile²
        # block grows quadratically with the corpus and OOMs workers
        step = max(1, max_elems // max(len(all_rb), 1))
        outs_a, outs_b, outs_s = [], [], []
        for lo in range(0, len(all_la), step):
            q = mm(A[lo : lo + step], na[lo : lo + step], B, nb)
            # NaN (zero-norm 0/0) fails the >= comparison and drops
            # out, same as safe_div's NULL under the threshold
            # predicate; isfinite makes that contract explicit.
            ia, ib = np.where(np.isfinite(q) & (q >= threshold))
            la = all_la[lo : lo + step][ia]
            rb = all_rb[ib]
            sims = q[ia, ib]
            if ta == tb:
                # diagonal tile: both roles hold the full tile, so
                # each pair shows up in both orders — keep (a < b)
                keep = la < rb
                la, rb, sims = la[keep], rb[keep], sims[keep]
                va, vb = la, rb
            else:
                # off-diagonal: each unordered pair appears exactly
                # once; normalize to (min, max) for the contract
                va = np.minimum(la, rb)
                vb = np.maximum(la, rb)
            outs_a.append(va)
            outs_b.append(vb)
            outs_s.append(sims)
        return pd.DataFrame(
            {
                "vec_a": np.concatenate(outs_a),
                "vec_b": np.concatenate(outs_b),
                "cosine": np.concatenate(outs_s),
            }
        )

    return (
        left.unionByName(right)
        .groupBy("ta", "tb")
        .applyInPandas(block, "vec_a bigint, vec_b bigint, cosine double")
    )


def knn_graph(
    emb: DataFrame,
    k: int = ANN_TOP_K,
    n_tiles: int = 8,
    diff_label: bool = False,
) -> DataFrame:
    """exact k-nearest-neighbor graph: EVERY vector's top-k cosine
    neighbors — the building block cluster/SemDeDup/graph pipelines
    consume (where the ``ann_*`` family answers a handful of queries,
    this materializes the whole corpus's neighborhood structure).

    Same tiled block-matmul as ``cosine_pairs`` (O(n·√tasks)
    replication, two tiles per task, BLAS per block), but each block
    emits only each source row's block-local top-k (ordered by
    cosine desc, neighbor id asc — the global ranking's order), so
    the shuffle into the final ranking window carries n·√tasks·k
    rows instead of n² pairs; a per-source ``row_number`` window then
    keeps the global top-k. A source's global top-k is a subset of
    the union of its block top-k under the same total order, so the
    cut is lossless.

    ``diff_label=True`` is the hard-negative-mining variant: the
    candidate mask additionally drops SAME-label pairs inside each
    block (before the block top-k, so the lossless-cut argument is
    unchanged — the global filtered ranking and the block-local one
    use the same total order over the same filtered candidate set),
    and the output carries both endpoints' labels. Requires a
    ``label`` column.
    """
    import numpy as np
    import pandas as pd

    t = F.pmod(F.col("vec_id"), F.lit(n_tiles)).cast("int")
    cols = ["vec_id", "embedding"] + (["label"] if diff_label else [])
    e = emb.select(*cols, t.alias("t"))
    left = e.select(
        F.col("t").alias("ta"),
        F.explode(F.sequence(F.col("t"), F.lit(n_tiles - 1))).alias("tb"),
        *cols,
        F.lit(True).alias("is_left"),
    )
    right = e.select(
        F.explode(F.sequence(F.lit(0), F.col("t"))).alias("ta"),
        F.col("t").alias("tb"),
        *cols,
        F.lit(False).alias("is_left"),
    )

    stack, mm = _make_cosine_parts()
    max_elems = MAX_BLOCK_ELEMS

    def block(key, pdf):
        ta, tb = key

        def frame(srcs, dsts, sims, slabs, dlabs):
            out = {
                "vec_id": np.array(srcs, dtype=np.int64),
                "neighbor_id": np.array(dsts, dtype=np.int64),
                "cosine": np.array(sims, dtype=np.float64),
            }
            if diff_label:
                out["label"] = np.array(slabs, dtype=np.int64)
                out["neighbor_label"] = np.array(dlabs, dtype=np.int64)
            return pd.DataFrame(out)

        L = pdf[pdf["is_left"]]
        R = pdf[~pdf["is_left"]]
        if L.empty or R.empty:
            return frame([], [], [], [], [])
        A, na = stack(L["embedding"])
        B, nb = stack(R["embedding"])
        la = L["vec_id"].to_numpy()
        rb = R["vec_id"].to_numpy()
        if diff_label:
            la_lab = L["label"].to_numpy()
            rb_lab = R["label"].to_numpy()
        else:
            la_lab = np.zeros(len(la), dtype=np.int64)
            rb_lab = np.zeros(len(rb), dtype=np.int64)

        def topk_rows(sim, src_ids, dst_ids, src_lab, dst_lab):
            # vectorized block-local top-k (r16, guide §4.2): the old
            # per-SOURCE-row Python loop ran ~6 numpy calls per row ×
            # every row of every block; here the whole block sorts in
            # three C-level ops. Same selection, same order: columns
            # are pre-sorted by dst asc, so a STABLE row-wise argsort
            # on -sim keeps ties in dst-ascending order — exactly the
            # old np.lexsort((dst, -sim)). Masked candidates (self
            # pairs, non-finite sims — zero-norm 0/0 NaN drops out
            # like safe_div's NULL — and same-label pairs in the
            # hard-negative variant) get a +inf key: ranked past
            # every real candidate and cut by the validity check.
            if sim.shape[0] == 0 or sim.shape[1] == 0:
                return [], [], [], [], []
            ord_d = np.argsort(dst_ids, kind="stable")
            sim_s = sim[:, ord_d]
            dst_s = dst_ids[ord_d]
            bad = ~np.isfinite(sim_s) | (dst_s[None, :] == src_ids[:, None])
            if diff_label:
                dlab_s = dst_lab[ord_d]
                bad |= dlab_s[None, :] == src_lab[:, None]
            key = np.where(bad, np.inf, -sim_s)
            kw = min(k, key.shape[1])
            ord2 = np.argsort(key, axis=1, kind="stable")[:, :kw]
            kk = np.take_along_axis(key, ord2, axis=1)
            valid = np.isfinite(kk)
            ri, ci = np.nonzero(valid)
            picked = ord2[ri, ci]
            srcs = src_ids[ri]
            dsts = dst_s[picked]
            sims = sim_s[ri, picked]
            if diff_label:
                return (
                    srcs,
                    dsts,
                    sims,
                    src_lab[ri],
                    dlab_s[picked],
                )
            return srcs, dsts, sims, [], []

        def _cat(a, b):
            if len(b) == 0:
                return a
            if len(a) == 0:
                return b
            return np.concatenate((np.asarray(a), np.asarray(b)))

        if len(la) * len(rb) <= max_elems:
            # small block: one matmul, transpose reused for the
            # reverse direction (the pre-round-9 fast path)
            q = mm(A, na, B, nb)
            r1 = topk_rows(q, la, rb, la_lab, rb_lab)
            if ta == tb:
                # diagonal: L and R hold the same tile — one
                # direction already covers every source in the tile
                r2 = ([], [], [], [], [])
            else:
                r2 = topk_rows(q.T, rb, la, rb_lab, la_lab)
            return frame(*(_cat(a, b) for a, b in zip(r1, r2)))

        # large block: sweep each direction in bounded row chunks —
        # at a fixed n_tiles the full tile² q matrix grows
        # quadratically with the corpus and OOMs workers (measured at
        # 200k vectors, round 9). Off-diagonal pays the reverse
        # matmul again instead of transposing; memory-bounded beats
        # 2× FLOPs exactly where blocks are too big to hold.
        acc = ([], [], [], [], [])

        def sweep(S, ns, sids, slab, T, nt, tids, tlab):
            step = max(1, max_elems // max(len(tids), 1))
            for lo in range(0, len(sids), step):
                qc = mm(S[lo : lo + step], ns[lo : lo + step], T, nt)
                r = topk_rows(qc, sids[lo : lo + step], tids, slab[lo : lo + step], tlab)
                for a, b in zip(acc, r):
                    a.extend(b)

        sweep(A, na, la, la_lab, B, nb, rb, rb_lab)
        if ta != tb:
            sweep(B, nb, rb, rb_lab, A, na, la, la_lab)
        return frame(*acc)

    schema = "vec_id bigint, neighbor_id bigint, cosine double" + (
        ", label bigint, neighbor_label bigint" if diff_label else ""
    )
    per_block = (
        left.unionByName(right)
        .groupBy("ta", "tb")
        .applyInPandas(block, schema)
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    out_cols = [
        F.col("vec_id"),
        F.col("neighbor_id"),
        dec_round(F.col("cosine"), 4).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    ]
    if diff_label:
        out_cols[2:2] = [F.col("label"), F.col("neighbor_label")]
    return (
        per_block.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*out_cols)
    )


def knn_graph_auto(
    emb: DataFrame,
    k: int = ANN_TOP_K,
    max_vectors: int | None = None,
    target_recall: float | None = None,
    geometry: str = "clustered",
) -> DataFrame:
    """measured auto-dial over the two kNN-graph arms (r14,
    completing the auto-dial family alongside ``mmr_rerank_auto``
    and ``containment_pairs_auto``): ONE corpus count, then the
    exact tiled all-pairs graph while ``n ≤ max_vectors`` and the
    IVF-bucketed arm above it. The exact arm is O(n²/tiles) FLOPs by
    definition and the IVF arm O(n^1.5·nprobe); the measured
    wall-clock crossover on this host sits between 5k and 10k
    vectors (SCALING.md r14 — exact 1.6 s vs IVF 2.8 s at 5k, 3.3 s
    vs 3.0 s at 10k, 6.2 s vs 3.7 s at 20k), and the default budget
    ``KNN_GRAPH_AUTO_MAX_VECTORS`` = 8000 sits in that gap,
    conservative toward the full-recall arm. The count is the only
    statistic, so the pick is data-deterministic and a SQL oracle
    replicates it exactly; both explicit arms stay registered as
    manual overrides, and ``nprobe_for_recall`` sizes the IVF side's
    recall knob when the dial fires.

    ``target_recall`` (r15, r14 verdict item 6): when set, the IVF
    arm's nprobe is sized by ``nprobe_for_recall(target_recall,
    geometry)`` — the stored measured curve as a function — instead
    of the static measured-knee default; the exact arm ignores it
    (recall is 1 by construction, so any target is met). ``geometry``
    is caller-declared ("clustered" unless the embeddings are known
    structureless); a cheap data-driven pick exists as
    ``detect_geometry`` — one argmin cell-assignment pass whose
    cell-mass concentration statistic separates the two measured
    curves (SCALING.md r15)."""
    from rsbsa_etl_spark.params import KNN_GRAPH_AUTO_MAX_VECTORS

    budget = (
        KNN_GRAPH_AUTO_MAX_VECTORS if max_vectors is None else max_vectors
    )
    if emb.count() <= budget:
        return knn_graph(emb, k)
    if target_recall is not None:
        if geometry == "auto":
            # one extra assignment scan, only on the IVF side and
            # only when a recall target makes the curve choice matter
            geometry = detect_geometry(emb)
        return knn_graph_ivf(
            emb, k, nprobe=nprobe_for_recall(target_recall, geometry)
        )
    return knn_graph_ivf(emb, k)


#: fixed probe-centroid count for ``detect_geometry`` — corpus-
#: independent by design: the statistic's null baseline depends only
#: on (probe count, dim), so fixing the probes keeps the decision
#: boundary analytic at every corpus size (using the index's own
#: √n cell count would saturate the test once
#: sqrt(2·ln(ncells)/dim) exceeds the intra-cluster cosine).
GEOMETRY_PROBE_CENTROIDS = 128


def geometry_profile(emb: DataFrame, n_probes: int | None = None) -> DataFrame:
    """the ``detect_geometry`` statistic as a one-row PROFILING
    DataFrame — registered as the ``ann_geometry`` key so the
    geometry decision itself is oracle-value-checked (the r15
    auto-dial discipline applied to the recall-curve pick):
    (n_vectors, n_probes, mean_cos_assigned, evt_null, geometry).

    Cross-engine float discipline: each vector's assigned cosine is
    quantized to a 1e-6 integer BEFORE aggregation (order-independent
    exact sum — a raw double avg would accumulate in partition order
    and could flip the 6-dp rounding between engines); the mean is
    two correctly-rounded IEEE divisions of exact integers, identical
    in DuckDB. The EVT null sqrt(2·ln(m)/d) is computed once in
    Python and embedded as the SAME literal in both plans (libm
    last-bit differences between engines never enter the compare)."""
    import math

    e = with_norm(emb)
    # one scan for BOTH sizing statistics (n, dim) — these were two
    # separate driver actions (a count and a first()), i.e. two full
    # job launches before the profile plan even built (guide §1/§5:
    # driver-side actions are per-key constant cost)
    n, dim = emb.agg(
        F.count("*"), F.first(F.size("embedding"), ignorenulls=True)
    ).first()
    n = int(n)
    m = (
        min(GEOMETRY_PROBE_CENTROIDS, n)
        if n_probes is None
        else min(n_probes, n)
    )
    null6 = (
        math.floor(
            math.sqrt(2.0 * math.log(max(m, 2)) / max(dim, 1)) * 1e6 + 0.5
        )
        / 1e6
    )
    cents = e.where(F.col("vec_id") < m).select(
        F.col("vec_id").alias("cid"),
        F.col("_vd").alias("vc"),
        F.col("_norm").alias("nc"),
    )
    # probe vectors are excluded from the averaged set: they assign
    # to THEMSELVES at cosine 1.0, which at small corpora (probes a
    # visible fraction of n) inflates the mean past the null and
    # fakes a "clustered" verdict
    cos_q = F.floor(
        safe_div(
            dot(F.col("_vd"), F.col("vc")), F.col("_norm") * F.col("nc")
        )
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    nonprobe = e.where(F.col("vec_id") >= m)
    if _use_arrow_assign():
        picked = _assign_cells_arrow(
            nonprobe.select("_vd", "_norm"), cents.select("cid", "vc"), "_vd"
        )
    else:
        best = _argmin_cell(F.col("_vd"), F.col("cs"))
        picked = nonprobe.join(
            F.broadcast(_collected_centroids(cents.select("cid", "vc")))
        ).select("_vd", "_norm", best["cid"].alias("cid"))
    assigned = picked.join(F.broadcast(cents), "cid").select(
        cos_q.alias("cq")
    )
    mean_cos = dec_round(
        (
            F.sum("cq").cast("double")
            / F.count("*").cast("double")
        )
        / F.lit(1e6),
        6,
    )
    return assigned.agg(mean_cos.alias("mean_cos_assigned")).select(
        F.lit(n).cast("long").alias("n_vectors"),
        F.lit(m).cast("int").alias("n_probes"),
        "mean_cos_assigned",
        F.lit(null6).alias("evt_null"),
        F.when(
            F.col("mean_cos_assigned") >= F.lit(null6), F.lit("clustered")
        )
        .otherwise(F.lit("isotropic"))
        .alias("geometry"),
    )


def detect_geometry(emb: DataFrame, n_probes: int | None = None) -> str:
    """data-driven pick of the recall-curve geometry for
    ``nprobe_for_recall`` (r15, the stretch half of r14 verdict item
    6): ONE assignment pass — each vector's cosine to its nearest of
    ``n_probes`` fixed probe centroids, the same zero-shuffle
    broadcast argmin fold the IVF build runs — then compare the MEAN
    assigned cosine against the analytic null: for an isotropic
    corpus in d dims, cos(v, c) ~ N(0, 1/d) per centroid, so the
    expected max over m probes is bounded by the EVT constant
    sqrt(2·ln(m)/d). Clustered corpora exceed the null (most vectors
    have a probe inside their cluster at intra-cluster cosine ≈ 0.5
    with gen_sf's tau=1); structureless corpora sit below it.
    Measured on the recall-curve fixtures (SCALING.md r15 "geometry
    detection"): isotropic 0.287/0.328/0.340 vs null 0.344/0.393/
    0.407 at 2k/20k/40k; Zipf-200-cluster 0.427/0.500/0.520 —
    separated at every scale with the ANALYTIC boundary, no fitted
    constant. Cost: one corpus scan + one tiny agg — negligible next
    to the graph build it parameterizes.

    Cell-mass concentration (normalized HHI) was evaluated first and
    REJECTED: with √n centroids drawn from the corpus, dense regions
    get proportionally many centroids, so cell masses stay
    near-uniform on clustered data (measured 1.40 vs 1.01 — no
    separation). That equalization is exactly why IVF recall is
    better there; the signal lives in the assigned DISTANCES, not
    the cell sizes.

    One implementation: this is ``geometry_profile``'s verdict
    column collected (the profile DataFrame is the registered,
    oracle-checked ``ann_geometry`` key).
    """
    return geometry_profile(emb, n_probes).collect()[0]["geometry"]


#: the round-9 measured graph-recall@10 curves for ``knn_graph_ivf``
#: (tools/measure_recall.py — 20k vectors / 141 cells / k=10, both
#: geometries through the same engine arms with exact ``knn_graph``
#: as truth; SCALING.md "knn_graph_ivf — recall dial"). "clustered"
#: is the Zipf-weighted 200-cluster mixture real embedding corpora
#: look like; "isotropic" is the structureless adversarial floor.
IVF_GRAPH_RECALL_CURVE: dict[str, tuple[tuple[int, float], ...]] = {
    "isotropic": ((4, 0.19), (8, 0.30), (16, 0.46), (32, 0.66)),
    "clustered": ((4, 0.66), (8, 0.78), (16, 0.88), (32, 0.95)),
}


def nprobe_for_recall(
    target_recall: float, geometry: str = "clustered"
) -> int:
    """size ``knn_graph_ivf``'s nprobe from a RECALL TARGET using
    the stored measured curve (r13 verdict item 8 — the measurement
    existed, the dial was static): the smallest measured nprobe
    whose graph recall meets the target, extrapolated past the
    measured range by the curve's final per-doubling gain. Probe
    work scales ∝ nprobe, so this is a cost floor, not a tweak —
    callers pick the geometry that matches their corpus ("clustered"
    unless the embeddings are known structureless). A returned
    nprobe approaching the cell count (~√n) means the target is not
    reachable by probing — use the exact ``knn_graph`` arm instead
    (probing every cell IS the exact computation with extra steps).

    ``target_recall`` is clamped to [0, 1] on entry (recall is a
    probability; a target above 1.0 is unreachable by definition and
    previously looped forever — the extrapolated recall saturates at
    1.0 while the per-doubling gain stays positive). A flat measured
    tail (zero gain) with the target still unmet raises ``ValueError``
    instead of returning an nprobe that silently misses the target.
    """
    target_recall = min(1.0, max(0.0, target_recall))
    curve = IVF_GRAPH_RECALL_CURVE[geometry]
    for nprobe, recall in curve:
        if recall >= target_recall:
            return nprobe
    (n_lo, r_lo), (n_hi, r_hi) = curve[-2], curve[-1]
    gain = r_hi - r_lo  # per doubling, at the measured tail
    if gain <= 0:
        raise ValueError(
            f"recall target {target_recall} unreachable: the measured "
            f"{geometry!r} curve tops out flat at {r_hi} — use the "
            "exact knn_graph arm"
        )
    nprobe, recall = n_hi, r_hi
    while recall < target_recall:
        nprobe *= 2
        recall = min(1.0, recall + gain)
    return nprobe


def knn_graph_ivf(
    emb: DataFrame,
    k: int = ANN_TOP_K,
    n_centroids: int | None = None,
    nprobe: int = IVF_NPROBE,
    diff_label: bool = False,
) -> DataFrame:
    """approximate k-NN graph via IVF cells — the scale dial for
    ``knn_graph``: the exact tiled all-pairs form is O(n²/tiles)
    FLOPs by definition (round-8 measurement: growth exponent ~1.4
    over the sf0.1→sf1 decade, and asymptotically 2), so the graph a
    SemDeDup/cluster pipeline builds over a 100 TB corpus needs the
    same coarse-quantizer cut every production ANN system makes:
    assign each vector to its nearest of ~√n Voronoi cells, probe
    each vector against its ``nprobe`` nearest cells only, exact
    block top-k within the probed cells.

    Work = Σ_cells |probers| · |members| ≈ n²·nprobe/ncells FLOPs;
    with the default ``n_centroids = max(16, floor(√n))`` (sized by
    one corpus count — the same one-pass sizing IVF training does)
    that is O(n^1.5·nprobe) — the standard IVF trade. Recall misses
    concentrate on true neighbors living across an unprobed cell
    boundary, exactly the class ``ann_recall``/``ann_eval`` price
    for the query-set form of this index. ``nprobe`` is the
    cost/recall dial (work ∝ nprobe), and the default (8) is picked
    from the round-9 TWO-geometry curve (tools/measure_recall.py,
    SCALING.md) at 20k vectors / 141 cells: graph recall@10 at
    nprobe 4/8/16/32 is 0.19/0.30/0.46/0.66 on isotropic random
    vectors — the adversarial floor, no cluster structure for cells
    to capture — and 0.66/0.78/0.88/0.95 on a Zipf-weighted
    200-cluster mixture, the geometry real embedding corpora have.
    nprobe=8 is the knee of the clustered curve (~0.8 recall); each
    doubling past it buys ~+0.1 recall for 2× probe work. ``nprobe``
    is a CALLER-OWNED knob: size it with ``nprobe_for_recall(target,
    geometry)`` — the stored curve as a function — rather than
    hand-picking; the default stays the measured knee.

    Plan shape: ONE distance pass of the corpus against the
    broadcast centroid array scores every centroid per vector as a
    pure expression fold (``_top_cells`` — the top-nprobe sibling of
    ``_argmin_cell``), so BOTH the cell assignment and the probe
    list come out of the same scan with ZERO shuffle: the sorted
    probe array's position 0 IS the argmin member cell, so one
    ``posexplode`` to n·nprobe rows carries each vector into its
    probed cells with an ``is_member`` flag (pos==0) — no
    corpus×ncents rank window, no embedding-payload shuffle, no
    member/prober union (the r8 advisor flagged the windowed form
    as re-introducing the exact shuffle the argmin fold avoids).
    Candidates then meet in ONE cid-keyed shuffle into per-cell
    BLAS blocks (``applyInPandas``, block-local top-k — the
    lossless-cut argument of ``knn_graph``: every member belongs to
    exactly one cell, so a source's global candidate top-k is the
    union of its per-cell top-k under the same total order); a
    final per-source window keeps the global top-k over n·nprobe·k
    rows. Per-task memory is one cell's members + its probers.

    Deterministic end to end (deterministic centroids, (d2, cid)
    tie-break, 1e-4-quantized cosine, (sim desc, neighbor asc)
    rank), so the whole approximate GRAPH is value-checked by the
    DuckDB oracle — same contract as the ann_* family.

    ``diff_label=True`` is the hard-negative-mining variant
    (``hard_negatives_ivf``): same-label candidates are masked
    inside each cell block BEFORE the block top-k (the same
    lossless-cut argument over the filtered candidate set that
    ``knn_graph(diff_label=True)`` makes), and the output carries
    both endpoints' labels. Requires a ``label`` column.
    """
    import math

    import numpy as np
    import pandas as pd

    if n_centroids is None:
        n_centroids = max(16, int(math.floor(math.sqrt(emb.count()))))

    e = with_norm(emb)
    cents = e.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("_vd").alias("vc")
    )

    # ONE pass scores the top-nprobe cell ids per vector (pos==0 is
    # the argmin member cell — same (d2, cid) order as
    # _argmin_cell): the Arrow kernel emits the probe array (r15,
    # default) or the _top_cells expression fold does (fallback
    # dial); either way it is posexploded to n·nprobe rows. Members
    # and probers ride the same rows via the is_member flag: zero
    # pre-shuffle, one scan, no union.
    lab_cols = ["label"] if diff_label else []
    if _use_arrow_assign():
        probed = _assign_cells_arrow(
            emb.select("vec_id", "embedding", *lab_cols),
            cents,
            "embedding",
            out_col="probes",
            nprobe=nprobe,
        ).select(
            "vec_id",
            "embedding",
            *lab_cols,
            F.posexplode("probes").alias("pos", "cid"),
        )
    else:
        carr = F.broadcast(_collected_centroids(cents))
        probe_cids = _top_cells(F.col("_vd"), F.col("cs"), nprobe)
        probed = e.join(carr).select(
            "vec_id",
            "embedding",
            *lab_cols,
            F.posexplode(probe_cids).alias("pos", "cid"),
        )
    exploded = probed.select(
        "vec_id",
        "embedding",
        *lab_cols,
        "cid",
        (F.col("pos") == 0).alias("is_member"),
    )

    stack, mm = _make_cosine_parts()
    max_elems = MAX_BLOCK_ELEMS

    def block(key, pdf):
        empty_cols = {
            "vec_id": np.array([], dtype=np.int64),
            "neighbor_id": np.array([], dtype=np.int64),
            "cosine": np.array([], dtype=np.float64),
        }
        if diff_label:
            empty_cols["label"] = np.array([], dtype=np.int64)
            empty_cols["neighbor_label"] = np.array([], dtype=np.int64)
        M = pdf[pdf["is_member"]]
        if pdf.empty or M.empty:
            return pd.DataFrame(empty_cols)
        # every row probes this cell (members probe their own)
        A, na = stack(pdf["embedding"])
        B, nb = stack(M["embedding"])
        src_all = pdf["vec_id"].to_numpy()
        dst = M["vec_id"].to_numpy()
        if diff_label:
            slab_all = pdf["label"].to_numpy()
            dlab = M["label"].to_numpy()
        srcs, dsts, sims, slabs, dlabs = [], [], [], [], []
        # columns pre-sorted by neighbor id so the stable row-wise
        # argsort's ties resolve dst-ascending — the (cosine desc,
        # neighbor asc) order the old per-row np.lexsort used
        ord_d = np.argsort(dst, kind="stable")
        dst_s = dst[ord_d]
        dlab_s = dlab[ord_d] if diff_label else None
        # chunked sweep: a hot Voronoi cell on clustered corpora can
        # hold far more than √n rows — bound the q block like the
        # all-pairs tile operators do. Inside each chunk the block-
        # local top-k is fully vectorized (r16, guide §4.2): masked
        # candidates (self, non-finite — zero-norm NaN drops out like
        # safe_div's NULL — same-label in the hard-negative variant)
        # key to +inf and are cut by the validity check.
        step = max(1, max_elems // max(len(dst), 1))
        for lo in range(0, len(src_all), step):
            q = mm(A[lo : lo + step], na[lo : lo + step], B, nb)[:, ord_d]
            src = src_all[lo : lo + step]
            bad = ~np.isfinite(q) | (dst_s[None, :] == src[:, None])
            if diff_label:
                bad |= dlab_s[None, :] == slab_all[lo : lo + step, None]
            key = np.where(bad, np.inf, -q)
            kw = min(k, key.shape[1])
            ord2 = np.argsort(key, axis=1, kind="stable")[:, :kw]
            kk = np.take_along_axis(key, ord2, axis=1)
            ri, ci = np.nonzero(np.isfinite(kk))
            picked = ord2[ri, ci]
            srcs.extend(src[ri])
            dsts.extend(dst_s[picked])
            sims.extend(q[ri, picked])
            if diff_label:
                slabs.extend(slab_all[lo : lo + step][ri])
                dlabs.extend(dlab_s[picked])
        out = {
            "vec_id": np.array(srcs, dtype=np.int64),
            "neighbor_id": np.array(dsts, dtype=np.int64),
            "cosine": np.array(sims, dtype=np.float64),
        }
        if diff_label:
            out["label"] = np.array(slabs, dtype=np.int64)
            out["neighbor_label"] = np.array(dlabs, dtype=np.int64)
        return pd.DataFrame(out)

    schema = "vec_id bigint, neighbor_id bigint, cosine double" + (
        ", label bigint, neighbor_label bigint" if diff_label else ""
    )
    per_cell = exploded.groupBy("cid").applyInPandas(block, schema)
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    out_cols = [
        F.col("vec_id"),
        F.col("neighbor_id"),
        dec_round(F.col("cosine"), 4).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    ]
    if diff_label:
        out_cols[2:2] = [F.col("label"), F.col("neighbor_label")]
    return (
        per_cell.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*out_cols)
    )


def hard_negatives_ivf(emb: DataFrame, k: int = ANN_TOP_K) -> DataFrame:
    """``hard_negatives`` over the IVF graph — the scale dial: exact
    hard-negative mining inherits ``knn_graph``'s O(n²/tiles) FLOPs
    (label masking happens inside the blocks, so the candidate pass
    is the full all-pairs sweep), while the IVF form prices
    O(n^1.5·nprobe) for the same top-k-by-different-label semantics
    within the probed cells. Deterministic like the parent, so the
    mined negative set is value-checked by its own composed oracle
    (the knn_graph_ivf SQL with the label mask added to the scored
    CTE — the graph_triangles_ivf composition pattern)."""
    return knn_graph_ivf(emb, k, diff_label=True)


def hard_negatives(emb: DataFrame, k: int = ANN_TOP_K) -> DataFrame:
    """hard-negative mining for contrastive training: for EVERY
    vector, its top-k most-similar vectors carrying a DIFFERENT
    label — the "looks alike, isn't the same class" pairs that make
    the strongest training negatives (easy negatives are random
    pairs; hard ones are mined exactly like this at corpus scale).

    Pure ``knn_graph`` with the same-label candidates masked out
    inside each tile block, so the cost profile is identical to the
    neighbor graph (tiled block-matmul, block-local top-k, shuffle
    of n·√tasks·k candidate rows — never n² pairs) and the result is
    the exact label-filtered ranking, not an approximation.
    """
    return knn_graph(emb, k, diff_label=True)


def knn_triangles(
    emb: DataFrame, k: int = ANN_TOP_K, n_tiles: int = 8
) -> DataFrame:
    """local clustering structure of the exact kNN graph: per node
    its degree, triangle count, and local clustering coefficient
    2·T/(d·(d−1)) — the graph-side duplicate/community signal (dense
    triangle neighborhoods = tight near-duplicate or topical
    clusters; triangle-free nodes = isolated/off-distribution).

    Distributed shape: the undirected edge set is the
    union-of-directions of ``knn_graph`` canonicalized to u<v and
    deduped (≤ n·k edges — node-linear, never pairwise), persisted
    once because it feeds four consumers (two wedge legs, the
    closing leg, degrees). Triangles use the standard node-iterator
    join — wedges e1(a,b)⋈e2(b,c) with a<b<c closed by e3(a,c) —
    two shuffle joins on edge endpoints; every triangle is
    enumerated exactly once because its vertex order is unique.
    Degrees in a kNN union graph are bounded (≥k out-edges, in-edges
    concentrate only on hub vectors), so the wedge intermediate is
    ~n·O(k²) rows; on a skewed corpus the classic degree-orientation
    refinement (point each edge from its lower- to higher-degree
    endpoint) caps it further without changing the result.

    Persist contract: the edge set stays cached after this returns —
    the result is lazy, so unpersisting here would defeat the four
    reuses. Callers that loop many queries should clear the cache
    between runs (``spark.catalog.clearCache()``, as bench.py does);
    default MEMORY_AND_DISK storage is LRU-evictable, so the residue
    degrades gracefully rather than OOMing.
    """
    g = knn_graph(emb, k, n_tiles)
    edges = (
        g.select(
            F.least("vec_id", "neighbor_id").alias("u"),
            F.greatest("vec_id", "neighbor_id").alias("v"),
        )
        .distinct()
        .persist()
    )
    return triangle_stats(edges)


def knn_triangles_ivf(emb: DataFrame, k: int = ANN_TOP_K) -> DataFrame:
    """``knn_triangles`` over the IVF graph — the scale dial: the
    round-8 three-point measurement put the triangles key at
    exponent 1.11 and the cost is almost entirely the EXACT graph
    build it inherits (O(n²/tiles) FLOPs); the triangle join itself
    is node-linear. Swapping the graph for ``knn_graph_ivf``
    (O(n^1.5·nprobe)) fixes the inherited asymptote without touching
    the triangle core — and since the IVF graph is deterministic and
    oracle-expressible, the triangle stats over it stay fully
    value-checked (the oracle composes the knn_graph_ivf CTE with
    the same wedge/close SQL verbatim)."""
    g = knn_graph_ivf(emb, k)
    edges = (
        g.select(
            F.least("vec_id", "neighbor_id").alias("u"),
            F.greatest("vec_id", "neighbor_id").alias("v"),
        )
        .distinct()
        .persist()
    )
    return triangle_stats(edges)


def triangle_stats(edges: DataFrame) -> DataFrame:
    """degree / triangle count / clustering coefficient per node of
    an undirected graph given as canonical edges (u < v, distinct) —
    the join core of ``knn_triangles``, factored out so arbitrary
    edge sets (property tests, other candidate graphs) can reuse it.
    The caller persists ``edges`` when it is expensive to rebuild;
    this function references it four times.
    """
    wedge = (
        edges.alias("e1")
        .join(edges.alias("e2"), F.col("e1.v") == F.col("e2.u"))
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )
    tri = wedge.join(
        edges.alias("e3"),
        (F.col("a") == F.col("e3.u")) & (F.col("c") == F.col("e3.v")),
    ).select("a", "b", "c")
    tcnt = (
        tri.select(F.explode(F.array("a", "b", "c")).alias("vec_id"))
        .groupBy("vec_id")
        .agg(F.count("*").alias("tri_count"))
    )
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("vec_id"))
        .groupBy("vec_id")
        .agg(F.count("*").alias("degree"))
    )
    d = F.col("degree")
    t = F.coalesce(F.col("tri_count"), F.lit(0))
    return deg.join(tcnt, "vec_id", "left").select(
        "vec_id",
        d.cast("long").alias("degree"),
        t.cast("long").alias("tri_count"),
        F.when(
            d >= 2, dec_round(F.lit(2.0) * t / (d * (d - F.lit(1))), 4)
        )
        .otherwise(F.lit(0.0))
        .alias("clustering"),
    )


def embedding_outliers(
    emb: DataFrame,
    k: int = ANN_TOP_K,
    pct_of_mean: int | None = None,
) -> DataFrame:
    """embedding-space outlier gate for data curation: a vector
    whose top-k neighborhood is abnormally DISTANT (mean neighbor
    cosine below ``pct_of_mean``% of the corpus-wide mean) is flagged
    — the standard "garbage embedding / off-distribution sample"
    signal a training-data pipeline runs after embedding.

    Determinism discipline (the double-sum killer): per-vector
    neighbor cosines are quantized to 1e-4 ints and summed as
    BIGINTs — partition-order-free — and the outlier gate compares
    ``100·sᵢ·N < pct·S`` in pure integer arithmetic, so the flag is
    bit-equal to the DuckDB oracle with no float tolerance anywhere.
    The relative (corpus-mean) gate is used because absolute
    neighborhood tightness shifts with corpus size.

    Plan: one ``knn_graph`` (tiled block-matmul), one map-side
    partial-agg groupBy, and a broadcast of the single global-total
    row — corpus touched once.
    """
    from rsbsa_etl_spark.params import OUTLIER_PCT_OF_MEAN

    pct = OUTLIER_PCT_OF_MEAN if pct_of_mean is None else pct_of_mean
    g = knn_graph(emb, k)
    si = g.groupBy("vec_id").agg(
        F.sum(
            F.floor(F.col("cosine") * F.lit(1e4) + F.lit(0.5)).cast("long")
        ).alias("s"),
        F.count("*").cast("long").alias("nk"),
    )
    tot = si.agg(
        F.sum("s").alias("total_s"), F.count("*").cast("long").alias("n_vecs")
    )
    return (
        si.join(F.broadcast(tot))
        .select(
            "vec_id",
            dec_round(
                F.col("s") / (F.col("nk") * F.lit(1e4)), 4
            ).alias("mean_knn_cosine"),
            (
                F.lit(100) * F.col("s") * F.col("n_vecs")
                < F.lit(pct) * F.col("total_s")
            ).alias("is_outlier"),
        )
    )


def brute_force_topk(
    emb: DataFrame,
    query_ids: Sequence[int] = ANN_QUERY_IDS,
    k: int = ANN_TOP_K,
    _qrows: list | None = None,
) -> DataFrame:
    """exact top-k cosine neighbors for a fixed query set.

    The query side is tiny → broadcast; the corpus is scanned once.
    Ranking uses the rounded similarity with vec_id tiebreak so the
    ordering is reproducible across engines and partitionings.

    Default (r16): the scoring stage is the Arrow batch kernel
    (``_topk_scores_arrow`` — bit-identical fold arithmetic, batch-
    local top-k cut, guide §4.2); ``SPARK_GRAFT_SCORE_ARROW=0``
    restores the broadcast-NLJ + expression-fold arm below.
    ``_qrows`` lets composed harnesses (ann_eval/ann_recall/ann_mrr)
    collect the query vectors once and share them across the four
    index builds.
    """
    if _use_arrow_score():
        qrows = (
            _collect_id_vecs(
                emb.where(
                    F.col("vec_id").isin([int(q) for q in query_ids])
                ),
                "vec_id",
                "embedding",
            )
            if _qrows is None
            else _qrows
        )
        scored = _topk_scores_arrow(
            emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            qrows,
            "embedding",
            "neighbor_id",
            k,
        )
        if scored is not None:
            w = Window.partitionBy("query_id").orderBy(
                F.col("cosine").desc(), F.col("neighbor_id").asc()
            )
            return (
                scored.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select(
                    "query_id",
                    "neighbor_id",
                    dec_round(F.col("cosine"), 4).alias("cosine"),
                    F.col("rank").cast("int").alias("rank"),
                )
            )
    e = with_norm(emb)
    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("_vd").alias("vn"),
        F.col("_norm").alias("nn"),
    )
    queries = e.where(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"),
        F.col("_vd").alias("vq"),
        F.col("_norm").alias("nq"),
    )
    sim = dec_round(safe_div(dot(F.col("vq"), F.col("vn")), F.col("nq") * F.col("nn")), 6)
    scored = (
        corpus.join(F.broadcast(queries), F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            dec_round(F.col("cosine"), 4).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def ivf_topk(
    emb: DataFrame,
    query_ids: Sequence[int] = ANN_QUERY_IDS,
    k: int = ANN_TOP_K,
    n_centroids: int = IVF_CENTROIDS,
    nprobe: int = IVF_NPROBE,
    _qrows: list | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN: partition the corpus into Voronoi
    cells around centroids, probe only the query's ``nprobe`` nearest
    cells, exact cosine rank within the probed candidates.

    Centroid init is deterministic — the first ``n_centroids``
    vectors by vec_id (k-means iteration 0; a production deployment
    runs Lloyd iterations on a sample, which only changes the
    centroid table, not this plan). Determinism is what makes an
    *approximate* index oracle-checkable: cell assignment, probe
    set, and ranking are all pure functions of the data.

    Scale shape: the centroid table is tiny → broadcast; assignment
    is one narrow pass over the corpus; the cell id becomes a
    partition/cluster key so each query touches ~nprobe/n_centroids
    of the data. All distances are sequential-fold expressions
    (``F.aggregate``), matching DuckDB's ``list_sum`` accumulation
    order bit-for-bit.

    Default (r16): ONE Arrow batch kernel does the corpus cell
    assignment, the probed-cell candidate restriction (the cid
    equi-join it replaces), the cosine scoring, and the batch-local
    top-k — the probe sets are computed driver-side from the
    collected centroid/query tables with the identical fold
    arithmetic. ``SPARK_GRAFT_SCORE_ARROW=0`` restores the join +
    fold arm below (which keeps its own r15 assignment-kernel dial).
    """
    if _use_arrow_score():
        qrows = (
            _collect_id_vecs(
                emb.where(
                    F.col("vec_id").isin([int(q) for q in query_ids])
                ),
                "vec_id",
                "embedding",
            )
            if _qrows is None
            else _qrows
        )
        crows = _collect_id_vecs(
            emb.where(F.col("vec_id") < n_centroids), "vec_id", "embedding"
        )
        scored = None
        if crows and _uniform_dim(crows) is not None and all(
            v is not None for _, v in qrows
        ):
            probes = [
                _py_nearest_cells(v, crows, nprobe) for _, v in qrows
            ]
            scored = _topk_scores_arrow(
                emb.select(
                    F.col("vec_id").alias("neighbor_id"), "embedding"
                ),
                qrows,
                "embedding",
                "neighbor_id",
                k,
                probes=probes,
                cents_rows=crows,
            )
        if scored is not None:
            w = Window.partitionBy("query_id").orderBy(
                F.col("cosine").desc(), F.col("neighbor_id").asc()
            )
            return (
                scored.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select(
                    "query_id",
                    "neighbor_id",
                    dec_round(F.col("cosine"), 4).alias("cosine"),
                    F.col("rank").cast("int").alias("rank"),
                )
            )
    e = with_norm(emb)
    cents = e.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"),
        F.col("_vd").alias("vc"),
        F.col("_norm").alias("nc"),
    )
    # L2² distance, sequential fold (same order as the SQL oracle)
    def l2sq(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def nearest_cells(side: DataFrame, vcol: str, idcol: str, n: int) -> DataFrame:
        scored = side.join(F.broadcast(cents), F.lit(True)).select(
            idcol, "cid", l2sq(F.col(vcol), F.col("vc")).alias("d2")
        )
        w = Window.partitionBy(idcol).orderBy(F.col("d2").asc(), F.col("cid").asc())
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= n)
            .select(idcol, "cid")
        )

    corpus = e.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("_vd").alias("vn"),
        F.col("_norm").alias("nn"),
    )
    # corpus-side assignment is the scale-critical step: the Arrow
    # kernel (default) or the argmin expression fold (fallback dial)
    # attaches cid in the same narrow pass — no window shuffle, no
    # corpus-sized re-join (the probe side below keeps the window
    # form; the query set is tiny)
    if _use_arrow_assign():
        corpus_cells = _assign_cells_arrow(
            corpus, cents.select("cid", "vc"), "vn"
        )
    else:
        best = _argmin_cell(F.col("vn"), F.col("cs"))
        corpus_cells = corpus.join(
            F.broadcast(_collected_centroids(cents.select("cid", "vc")))
        ).select("neighbor_id", "vn", "nn", best["cid"].alias("cid"))

    queries = e.where(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"),
        F.col("_vd").alias("vq"),
        F.col("_norm").alias("nq"),
    )
    probes = nearest_cells(queries, "vq", "query_id", nprobe)
    q_probe = queries.join(probes, "query_id")

    sim = dec_round(safe_div(dot(F.col("vq"), F.col("vn")), F.col("nq") * F.col("nn")), 6)
    scored = (
        corpus_cells.join(F.broadcast(q_probe), "cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            dec_round(F.col("cosine"), 4).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def sign_bucket(vec_col: str = "embedding", dims: int = LSH_SIGN_DIMS) -> Column:
    """sign-LSH bucket id with a deterministic Hadamard rotation:
    bit i = sign(Σ_j h[i+1][j]·v[j]) over the leading
    ``LSH_MIX_WIDTH`` dims, h = ±1 Sylvester–Hadamard rows (DC row
    skipped).

    The earlier axis-aligned form (bit i = sign(v[i])) measured
    0.0–0.5 recall on this corpus because its cluster structure
    lives in the leading dimensions, making axis signs nearly
    constant within clusters. The mixed projections are mutually
    orthogonal pseudo-random hyperplanes — the standard
    random-hyperplane LSH guarantee (P[bit agrees] = 1 − θ/π)
    applies — while staying deterministic and SQL-portable: the
    oracle emits the identical left-associative double-arithmetic
    chain, so bucket ids are bit-equal across engines. Bucket count
    (2^dims) is unchanged.
    """
    from rsbsa_etl_spark.params import LSH_MIX_WIDTH, hadamard_sign

    # expression-size discipline: the unrolled ±v[0]±v[1]… chain
    # (6 bits × 16 terms of getItem+cast+negate) built a ~100-node
    # tree whose eager per-op re-analysis and codegen compile cost
    # ~3 s of driver time per query — a constant that dominates at
    # bench scale. The zip_with/aggregate fold below is a dozen
    # nodes per bit and BIT-IDENTICAL numerically: x*(±1.0) is an
    # exact IEEE sign flip, the fold adds left-to-right starting at
    # 0.0 exactly like the oracle's left-associative chain, and
    # 0.0+x == x for every x (a -0.0 sum still compares > 0 false
    # either way).
    head = F.transform(
        F.slice(F.col(vec_col), 1, LSH_MIX_WIDTH),
        lambda x: x.cast("double"),
    )
    b = F.lit(0)
    for i in range(dims):
        signs = F.array(
            *[
                F.lit(float(hadamard_sign(i + 1, j)))
                for j in range(LSH_MIX_WIDTH)
            ]
        )
        mixed = F.aggregate(
            F.zip_with(head, signs, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        b = b + F.when(mixed > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return b.cast("int")


def lsh_topk(
    emb: DataFrame,
    query_ids: Sequence[int] = ANN_QUERY_IDS,
    k: int = ANN_TOP_K,
    _qrows: list | None = None,
) -> DataFrame:
    """approximate top-k: candidates restricted to the query's
    sign-LSH bucket, then exact cosine rank within the bucket.

    The cross join of brute force becomes a bucket equi-join: at
    1000× corpus size the probe side still only meets ~1/2^dims of
    the corpus per query, and the bucket column can back a partition
    layout so each query touches a bounded slice.

    Default (r16): the bucket computation AND the in-bucket scoring
    run inside the Arrow batch kernel (``_topk_scores_arrow`` with
    the sign-mixing matrix in its broadcast — bit-identical bucket
    bits and cosines, batch-local top-k); the bucket equi-join +
    per-pair fold arm below stays under ``SPARK_GRAFT_SCORE_ARROW=0``.
    """
    if _use_arrow_score():
        qrows = (
            _collect_id_vecs(
                emb.where(
                    F.col("vec_id").isin([int(q) for q in query_ids])
                ),
                "vec_id",
                "embedding",
            )
            if _qrows is None
            else _qrows
        )
        probes = [
            [_py_sign_bucket(v, LSH_SIGN_DIMS)] for _, v in qrows
        ]
        scored = _topk_scores_arrow(
            emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            qrows,
            "embedding",
            "neighbor_id",
            k,
            probes=probes,
            lsh_bits=LSH_SIGN_DIMS,
        )
        if scored is not None:
            w = Window.partitionBy("query_id").orderBy(
                F.col("cosine").desc(), F.col("neighbor_id").asc()
            )
            return (
                scored.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select(
                    "query_id",
                    "neighbor_id",
                    dec_round(F.col("cosine"), 4).alias("cosine"),
                    F.col("rank").cast("int").alias("rank"),
                )
            )
    e = with_norm(emb).withColumn("bucket", sign_bucket())
    corpus = e.select(
        "bucket",
        F.col("vec_id").alias("neighbor_id"),
        F.col("_vd").alias("vn"),
        F.col("_norm").alias("nn"),
    )
    queries = e.where(F.col("vec_id").isin(list(query_ids))).select(
        F.col("bucket"),
        F.col("vec_id").alias("query_id"),
        F.col("_vd").alias("vq"),
        F.col("_norm").alias("nq"),
    )
    sim = dec_round(safe_div(dot(F.col("vq"), F.col("vn")), F.col("nq") * F.col("nn")), 6)
    scored = (
        corpus.join(
            F.broadcast(queries),
            on="bucket",
        )
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            dec_round(F.col("cosine"), 4).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def _argmin_cell(vec: Column, cents_arr: Column) -> Column:
    """argmin-by-(d2, cid) over a collected centroid-struct array —
    a pure expression, so cell assignment costs ZERO shuffle.

    The window form this replaces (cross-join 16 centroid rows per
    vector + ``row_number`` over ``partitionBy(vec_id)``) shuffled
    corpus×n_centroids rows — petabytes at 100 TB. Here the centroid
    table is folded to ONE array row, broadcast, and each corpus row
    evaluates ``array_min`` over per-centroid structs. Struct
    comparison is lexicographic, so ``(d2, cid)`` ordering IS the
    argmin-with-id-tiebreak, and d2 uses the identical sequential
    ``zip_with``/``aggregate`` fold — bit-identical to the window
    form and to the DuckDB oracle.

    Trade-off, measured: nested higher-order functions evaluate
    outside whole-stage codegen, so single-node CPU per row is ~2×
    the joined+windowed form (ann_ivfpq 0.9 s → 1.7-2.0 s at sf0.1
    local[32]). The windowed form's cost is a corpus×n_centroids
    SHUFFLE, which grows with data; the fold's cost is bounded
    per-row CPU. At the 100 TB design point the shuffle dominates by
    orders of magnitude — this is the scale-correct side of the
    trade.
    """
    scored = F.transform(
        cents_arr,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(vec, c["vc"], lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d2"),
            c["cid"].alias("cid"),
        ),
    )
    return F.array_min(scored)


def _top_cells(vec: Column, cents_arr: Column, nprobe: int) -> Column:
    """top-``nprobe`` cell ids by (d2, cid) from the broadcast
    centroid-struct array — the probe-list sibling of
    ``_argmin_cell``. ``array_sort``'s lexicographic struct order is
    the identical (d2 asc, cid asc) tie-break the old rank window
    used, so the probe SET is bit-identical while the n·n_centroids
    window shuffle (which carried the full embedding payload on
    every row) disappears into a per-row expression. Position 0 of
    the result is exactly ``_argmin_cell``'s cid."""
    scored = F.transform(
        cents_arr,
        lambda c: F.struct(
            F.aggregate(
                F.zip_with(vec, c["vc"], lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d2"),
            c["cid"].alias("cid"),
        ),
    )
    return F.transform(
        F.slice(F.array_sort(scored), 1, nprobe), lambda c: c["cid"]
    )


def _collected_centroids(cents: DataFrame) -> DataFrame:
    """(cid, vc) rows → a single-row array<struct{cid,vc}> for the
    broadcast argmin fold. n_centroids is index-sized (≤ thousands),
    so one row is cheap to build and ship."""
    return cents.agg(F.collect_list(F.struct("cid", "vc")).alias("cs"))


def _use_arrow_assign() -> bool:
    """dial for the Arrow assignment kernel (the r15 A/B instrument,
    kept as a paranoid fallback): ``SPARK_GRAFT_ASSIGN_ARROW=0``
    restores the in-plan HOF fold. Default ON — the kernel is the
    measured-faster arm at every SF (OPTIMIZATION_r15.md) and the
    decision arithmetic is bit-identical by construction."""
    import os

    return os.environ.get("SPARK_GRAFT_ASSIGN_ARROW", "1") != "0"


def _use_arrow_score() -> bool:
    """dial for the r16 Arrow SCORING kernels (brute-force / LSH /
    IVF cosine top-k, the MMR retrieval pool, the hybrid vector
    arm): ``SPARK_GRAFT_SCORE_ARROW=0`` restores the in-plan
    broadcast-join + expression-fold arms. Default ON — guide §4.2
    applied to the remaining collected-array folds (r15 verdict
    item 1): the per-pair ``dot``/norm higher-order-function folds
    evaluate OUTSIDE whole-stage codegen, per interpreted expression
    node, per row × query × dimension, and the joined rows then drag
    the full embedding payload through the ranking window's
    exchange. The kernel scores whole Arrow batches in NumPy with
    the identical IEEE fold sequence and emits only batch-local
    top-k candidate rows (a lossless cut under the same total
    order), so the window shuffles candidates, not the corpus."""
    import os

    return os.environ.get("SPARK_GRAFT_SCORE_ARROW", "1") != "0"


def _fold_dot(a, b) -> float:
    """driver-side twin of ``dot``: 0.0 + a0·b0 + a1·b1 + … in index
    order — each op a correctly-rounded IEEE double, identical to
    the ``zip_with``/``aggregate`` fold and DuckDB's list_sum."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _fold_norm(a) -> float:
    """driver-side twin of ``with_norm``'s sumsq fold + sqrt."""
    import math

    acc = 0.0
    for x in a:
        acc = acc + x * x
    return math.sqrt(acc)


def _fold_l2sq(a, b) -> float:
    """driver-side twin of the l2sq fold: acc += (x−y)² in order."""
    acc = 0.0
    for x, y in zip(a, b):
        t = x - y
        acc = acc + t * t
    return acc


def _collect_id_vecs(df: DataFrame, id_col: str, vec_col: str) -> list:
    """bounded collect of an (id, vector) side table (query set /
    centroid table — both index-sized by construction), id-sorted.
    ONE collect per operator build: callers that feed several
    kernels (ann_eval's four index scans) collect once and thread
    the rows down (r15 verdict item 4 — no per-call-site re-collect
    jobs)."""
    rows = df.select(id_col, vec_col).collect()
    return sorted(
        (
            int(r[0]),
            None if r[1] is None else [float(x) for x in r[1]],
        )
        for r in rows
    )


def _uniform_dim(vec_rows: list) -> int | None:
    """the single vector dimensionality of collected (id, vec) rows,
    or None when any vector is NULL / lengths differ — the signal to
    fall back to the in-plan fold arm, whose NULL-padded zip_with
    semantics cover degenerate side tables exactly."""
    if any(v is None for _, v in vec_rows):
        return None
    dims = {len(v) for _, v in vec_rows}
    if len(dims) != 1:
        return None
    return dims.pop()


def _py_sign_bucket(vec, dims: int) -> int:
    """driver-side twin of ``sign_bucket``: bit i = (mixed > 0) with
    Spark's NaN>0=true, mixed = the left-to-right ±1-weighted fold
    over the leading ``LSH_MIX_WIDTH`` dims — pure-Python IEEE
    doubles, so query buckets computed here are bit-equal to the
    in-plan expression's. A NULL/short vector folds through NULL
    padding to bucket 0 (every bit's ``when`` falls to otherwise)."""
    import math

    from rsbsa_etl_spark.params import LSH_MIX_WIDTH, hadamard_sign

    if vec is None or len(vec) < LSH_MIX_WIDTH:
        return 0
    head = [float(x) for x in vec[:LSH_MIX_WIDTH]]
    b = 0
    for i in range(dims):
        acc = 0.0
        for j in range(LSH_MIX_WIDTH):
            acc = acc + head[j] * float(hadamard_sign(i + 1, j))
        if acc > 0 or math.isnan(acc):
            b |= 1 << i
    return b


def _py_nearest_cells(qvec, cents_rows: list, nprobe: int) -> list:
    """driver-side twin of the query-side ``nearest_cells`` window:
    top-``nprobe`` cell ids by (d2 asc, cid asc), d2 = the exact
    sequential l2² fold, NaN ranked last (Spark sorts NaN above
    every double)."""
    import math

    scored = []
    for cid, cv in cents_rows:
        d2 = _fold_l2sq(qvec, cv)
        scored.append((1 if math.isnan(d2) else 0, d2, cid))
    scored.sort()
    return [c for _, _, c in scored[:nprobe]]


def _topk_scores_arrow(
    src: DataFrame,
    qrows: list,
    vec_col: str,
    id_col: str,
    k: int,
    out_col: str = "cosine",
    scale: int = 6,
    fixed_long: bool = False,
    drop_null: bool = False,
    exclude_self: bool = True,
    keep_vec: bool = False,
    probes: list | None = None,
    cents_rows: list | None = None,
    lsh_bits: int | None = None,
) -> DataFrame | None:
    """batch-local cosine top-k against a collected query set — the
    ``mapInArrow`` NumPy twin of the broadcast-NLJ + ``dot``-fold
    scoring stage shared by ``brute_force_topk`` / ``lsh_topk`` /
    ``lsh_multiprobe_topk`` / ``ivf_topk`` / ``_mmr_pool`` /
    ``_hybrid_parts`` (guide §4.2). Emits, per Arrow batch and per
    query, the top-``k`` scored candidate rows plus (unless
    ``drop_null``) the first ``k`` NULL-score rows — a LOSSLESS cut:
    the downstream ranking window's total order is (score desc,
    id asc) with NULLs last, and a per-query global top-k is a
    subset of the union of batch-local top-k under the same order.

    BIT-IDENTICAL value arithmetic by construction (the
    ``_assign_cells_arrow`` contract extended to scores):

    - dot and sumsq accumulate per dimension in ascending index
      order from 0.0 (NumPy in-place add over the row axis) — the
      exact IEEE sequence of the ``zip_with``/``aggregate`` folds;
    - the emitted score replicates ``dec_round``/1e-6 fixed-point
      exactly INCLUDING Spark's floor(double)→LONG cast semantics
      (NaN→0, ±inf→±Long.MAX/MIN) — so a NaN cosine surfaces as the
      same 0.0 / 0 the in-plan expression produces;
    - ``safe_div``: a zero denominator emits a NULL score (the row
      is kept and ranks last, like the fold arm), never a NaN;
    - candidate restriction modes replicate the join they replace:
      ``probes`` + ``cents_rows`` = the IVF cid equi-join (rows
      whose argmin cell — first-win (d2, cid), NaN→+inf — is probed
      by the query); ``probes`` + ``lsh_bits`` = the sign-LSH bucket
      equi-join (bucket bits from the identical per-dimension mixing
      fold, Spark's NaN>0=true included); ``probes=None`` = the
      brute-force ``query_id != neighbor_id`` NLJ.

    Returns None when the collected side tables are degenerate
    (empty / NULL vectors / ragged dims) — callers fall back to the
    in-plan fold arm, which defines semantics there. Rows whose
    vector is NULL or of a different dimensionality score NULL
    (brute/LSH; the fold arm's NULL-padded zip_with) or drop (IVF;
    the NULL-cid inner join), exactly like the arms they replace.

    The collected matrices ship as ONE Spark broadcast variable
    (r15 verdict item 4) — per-executor, not per-task-closure.
    """
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as T

    if not qrows:
        return None
    d = _uniform_dim(qrows)
    if d is None or d == 0:
        return None
    qids_np = np.asarray([q[0] for q in qrows], dtype=np.int64)
    Q = np.asarray([q[1] for q in qrows], dtype=np.float64)
    # query norms: the same per-dimension fold, vectorized over the
    # (tiny) query axis
    qacc = np.zeros(len(qrows), dtype=np.float64)
    for i in range(d):
        t = Q[:, i]
        qacc += t * t
    qn = np.sqrt(qacc)

    cid_arr = cmat = None
    if cents_rows is not None:
        cd = _uniform_dim(cents_rows)
        if cd is None or cd != d or not cents_rows:
            return None
        cid_arr = np.asarray([c[0] for c in cents_rows], dtype=np.int64)
        cmat = np.asarray([c[1] for c in cents_rows], dtype=np.float64)

    S = None
    if lsh_bits is not None:
        from rsbsa_etl_spark.params import LSH_MIX_WIDTH, hadamard_sign

        if d < LSH_MIX_WIDTH:
            return None  # fold arm defines the NULL-padded semantics
        S = np.asarray(
            [
                [float(hadamard_sign(i + 1, j)) for j in range(LSH_MIX_WIDTH)]
                for i in range(lsh_bits)
            ],
            dtype=np.float64,
        )

    probes_np = (
        None
        if probes is None
        else [np.asarray(sorted(p), dtype=np.int64) for p in probes]
    )

    bc = src.sparkSession.sparkContext.broadcast(
        {
            "qids": qids_np,
            "Q": Q,
            "qn": qn,
            "cids": cid_arr,
            "cmat": cmat,
            "S": S,
            "probes": probes_np,
        }
    )

    score_t = T.LongType() if fixed_long else T.DoubleType()
    fields = [
        T.StructField("query_id", T.LongType(), False),
        T.StructField(id_col, T.LongType(), True),
        T.StructField(out_col, score_t, True),
    ]
    if keep_vec:
        fields += [
            T.StructField("vd", T.ArrayType(T.DoubleType()), True),
            T.StructField("nd", T.DoubleType(), True),
        ]
    out_schema = T.StructType(fields)
    kk = int(k)
    want_vec = keep_vec
    emit_null = not drop_null
    excl = exclude_self
    vname, iname, oname = vec_col, id_col, out_col
    as_long = fixed_long
    qscale = float(10**scale)
    LMAX = np.iinfo(np.int64).max
    LMIN = np.iinfo(np.int64).min

    def _floor_long(v):
        # Java (long) cast of math.floor(double): NaN→0, ±inf and
        # out-of-range saturate to Long.MAX/MIN — Spark's FLOOR
        out = np.zeros(v.shape, dtype=np.int64)
        fin = np.isfinite(v)
        big = fin & (v >= 9.223372036854776e18)
        small = fin & (v <= -9.223372036854776e18)
        mid = fin & ~big & ~small
        out[mid] = v[mid].astype(np.int64)
        out[big | (v == np.inf)] = LMAX
        out[small | (v == -np.inf)] = LMIN
        return out

    def score(batches):
        env = bc.value
        Q_, qids_, qn_ = env["Q"], env["qids"], env["qn"]
        cmat_, cids_ = env["cmat"], env["cids"]
        S_, probes_ = env["S"], env["probes"]
        m = len(qids_)

        def out_batch(oq, oi, os, onull, ovd, ond):
            arrs = [
                pa.array(oq, type=pa.int64()),
                pa.array(oi, type=pa.int64()),
                pa.array(
                    os,
                    type=pa.int64() if as_long else pa.float64(),
                    mask=onull,
                ),
            ]
            names = ["query_id", iname, oname]
            if want_vec:
                names += ["vd", "nd"]
                nrows = len(oq)
                offs = np.arange(0, (nrows + 1) * d, d, dtype=np.int32)
                flatv = (
                    np.concatenate(ovd)
                    if ovd
                    else np.array([], dtype=np.float64)
                )
                arrs.append(
                    pa.ListArray.from_arrays(
                        pa.array(offs, type=pa.int32()),
                        pa.array(flatv, type=pa.float64()),
                    )
                )
                arrs.append(
                    pa.array(
                        np.concatenate(ond)
                        if ond
                        else np.array([], dtype=np.float64),
                        type=pa.float64(),
                    )
                )
            return pa.RecordBatch.from_arrays(arrs, names=names)

        for batch in batches:
            n = batch.num_rows
            icol = batch.column(batch.schema.get_field_index(iname))
            vcol = batch.column(batch.schema.get_field_index(vname))
            if n == 0 or m == 0:
                yield out_batch(
                    np.array([], dtype=np.int64),
                    np.array([], dtype=np.int64),
                    np.array([], dtype=np.int64)
                    if as_long
                    else np.array([], dtype=np.float64),
                    np.array([], dtype=bool),
                    [],
                    [],
                )
                continue
            id_ok = np.asarray(icol.is_valid())
            ids = np.asarray(icol.fill_null(LMIN)).astype(np.int64)
            lens = np.asarray(vcol.value_lengths().fill_null(0))
            vva = np.asarray(vcol.is_valid())
            ok = id_ok & vva & (lens == d)
            flat = np.asarray(vcol.flatten(), dtype=np.float64)
            okidx = np.nonzero(ok)[0]
            if ok.all():
                X = flat.reshape(n, d)
            elif len(okidx):
                starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                X = flat[starts[okidx][:, None] + np.arange(d)]
            else:
                X = np.empty((0, d), dtype=np.float64)
            # per-dimension folds: dot (ok rows × queries) and sumsq
            num = np.zeros((X.shape[0], m), dtype=np.float64)
            sacc = np.zeros(X.shape[0], dtype=np.float64)
            for i in range(d):
                xi = X[:, i]
                num += np.multiply.outer(xi, Q_[:, i])
                sacc += xi * xi
            nrm = np.sqrt(sacc)
            den = np.multiply.outer(nrm, qn_)
            zero_den = den == 0
            with np.errstate(divide="ignore", invalid="ignore"):
                sim = num / den
            rounded = _floor_long(sim * qscale + 0.5)
            if as_long:
                sc = rounded
            else:
                sc = rounded.astype(np.float64) / qscale

            # candidate-restriction key per row (bucket / cell)
            key_ok = None
            key_all = None
            if S_ is not None:
                nbits = S_.shape[0]
                width = S_.shape[1]
                # uniform ok rows: vectorized per-dimension mixing
                buck_ok = np.zeros(X.shape[0], dtype=np.int64)
                for bi in range(nbits):
                    acc = np.zeros(X.shape[0], dtype=np.float64)
                    for j in range(width):
                        acc += X[:, j] * S_[bi, j]
                    bit = (acc > 0) | np.isnan(acc)
                    buck_ok |= bit.astype(np.int64) << bi
                # ragged rows: bucket from the available prefix
                # (fold-arm NULL-padding → bit 0 when len < width)
                key_all = np.zeros(n, dtype=np.int64)
                key_all[okidx] = buck_ok
                ragged = np.nonzero(id_ok & vva & (lens != d))[0]
                if len(ragged):
                    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                    for ri in ragged:
                        L = int(lens[ri])
                        if L < width:
                            continue  # NULL-padded fold → bucket 0
                        v = flat[starts[ri] : starts[ri] + width]
                        b = 0
                        for bi in range(nbits):
                            acc = 0.0
                            for j in range(width):
                                acc = acc + v[j] * S_[bi, j]
                            if acc > 0 or np.isnan(acc):
                                b |= 1 << bi
                        key_all[ri] = b
            elif cmat_ is not None:
                # argmin cell over ok rows, slab-capped accumulator
                nc = cmat_.shape[0]
                picked = np.empty(X.shape[0], dtype=np.int64)
                slab = max(1, (1 << 22) // max(nc, 1))
                for lo in range(0, X.shape[0], slab):
                    Xs = X[lo : lo + slab]
                    acc = np.zeros((Xs.shape[0], nc), dtype=np.float64)
                    for i in range(d):
                        t = Xs[:, i : i + 1] - cmat_[:, i]
                        acc += t * t
                    np.copyto(acc, np.inf, where=np.isnan(acc))
                    picked[lo : lo + slab] = cids_[np.argmin(acc, axis=1)]
                key_ok = picked

            oq, oi, os_, onull, ovd, ond = [], [], [], [], [], []
            for j in range(m):
                if probes_ is None:
                    cand_ok = np.ones(X.shape[0], dtype=bool)
                    cand_null_extra = (
                        np.nonzero(id_ok & ~ok)[0] if emit_null else []
                    )
                elif key_ok is not None:  # IVF: not-ok rows dropped
                    cand_ok = np.isin(key_ok, probes_[j])
                    cand_null_extra = []
                else:  # LSH: bucket computed for every row
                    cand_ok = np.isin(key_all[okidx], probes_[j])
                    cand_null_extra = (
                        np.nonzero(
                            id_ok & ~ok & np.isin(key_all, probes_[j])
                        )[0]
                        if emit_null
                        else []
                    )
                if excl:
                    cand_ok &= ids[okidx] != qids_[j]
                valid = cand_ok & ~zero_den[:, j]
                vidx = np.nonzero(valid)[0]
                if len(vidx):
                    vids = ids[okidx][vidx]
                    vsc = sc[vidx, j]
                    order = np.lexsort((vids, -vsc))[:kk]
                    sel = vidx[order]
                    take = len(order)
                    oq.append(np.full(take, qids_[j], dtype=np.int64))
                    oi.append(ids[okidx][sel])
                    os_.append(sc[sel, j])
                    onull.append(np.zeros(take, dtype=bool))
                    if want_vec:
                        ovd.extend(X[sel])
                        ond.append(nrm[sel])
                if emit_null:
                    # NULL-score rows: zero-denominator ok rows plus
                    # (brute/LSH) ragged/NULL-vector rows — ranked
                    # last, id-asc, first k kept
                    znull = np.nonzero(cand_ok & zero_den[:, j])[0]
                    nids = ids[okidx][znull]
                    extra = np.asarray(cand_null_extra, dtype=np.int64)
                    if excl and len(extra):
                        extra = extra[ids[extra] != qids_[j]]
                    allnull = np.concatenate((nids, ids[extra])) if len(
                        extra
                    ) else nids
                    if len(allnull):
                        allnull = np.sort(allnull)[:kk]
                        take = len(allnull)
                        oq.append(np.full(take, qids_[j], dtype=np.int64))
                        oi.append(allnull)
                        os_.append(
                            np.zeros(take, dtype=np.int64)
                            if as_long
                            else np.zeros(take, dtype=np.float64)
                        )
                        onull.append(np.ones(take, dtype=bool))
                        if want_vec:
                            # unreachable: keep_vec callers drop_null
                            ovd.extend(
                                np.zeros((take, d), dtype=np.float64)
                            )
                            ond.append(np.zeros(take, dtype=np.float64))
            yield out_batch(
                np.concatenate(oq) if oq else np.array([], dtype=np.int64),
                np.concatenate(oi) if oi else np.array([], dtype=np.int64),
                np.concatenate(os_)
                if os_
                else (
                    np.array([], dtype=np.int64)
                    if as_long
                    else np.array([], dtype=np.float64)
                ),
                np.concatenate(onull)
                if onull
                else np.array([], dtype=bool),
                ovd,
                ond,
            )

    return src.mapInArrow(score, out_schema)


def _assign_cells_arrow(
    src: DataFrame,
    cents: DataFrame,
    vec_col: str,
    out_col: str = "cid",
    nprobe: int | None = None,
) -> DataFrame:
    """corpus-side Voronoi assignment as a ``mapInArrow`` NumPy
    kernel — the vectorized twin of ``_argmin_cell``/``_top_cells``
    (optimization guide §4.2: hand whole batches to native code
    instead of evaluating a nested higher-order-function tree, which
    runs OUTSIDE whole-stage codegen, per interpreted expression node,
    per row × per centroid × per dimension). Measured r15 at sf0.1:
    2–20× per assignment stage (OPTIMIZATION_r15.md), growing with
    the centroid count; the plan stays a narrow map — zero shuffle,
    exactly like the fold it replaces.

    BIT-IDENTICAL decision arithmetic by construction:

    - d2 accumulates per dimension in ascending index order
      (``acc = acc + (x_i − c_i)²`` from a 0.0 start — NumPy in-place
      add over the row axis) — the exact left-to-right IEEE double
      sequence of the ``zip_with``/``aggregate`` fold and of the
      DuckDB oracle's ``list_sum``;
    - only INTEGER ids leave the kernel (the argmin / top-``nprobe``
      cell ids); no kernel-computed float crosses the boundary, so
      there is no transport-precision question (Arrow passthrough of
      kept float columns is bit-exact regardless);
    - ties and NaN replicate Spark's struct order: centroids are
      scanned in cid-ascending order with first-win comparisons
      (``np.argmin`` / stable ``np.argsort`` = the (d2, cid)
      lexicographic order of ``array_min``/``array_sort``), and NaN
      d2 is substituted with +inf before ranking (an all-NaN row
      degrades to the lowest cid under both forms).  One corner
      NARROWS the bit-identity claim to finite/non-overflowing
      inputs (r15 advice): Spark orders +inf strictly BELOW NaN, so
      a row whose d2s contain both a genuine +inf (overflowed
      squares, |x| ≳ 1e154) and a NaN ties them here and first-win
      may pick the NaN centroid the fold would rank last.  Unreachable
      on any fixture/generator (finite, unit-scale vectors); kept
      out of the hot argmin on purpose.

    ``cents`` is the (cid, vc) table, collected here — index-sized
    (≤ thousands of rows), the same relation the broadcast build
    already materialized on the driver, so the collect changes WHERE
    the table lands (a closure instead of a broadcast), not how much
    data moves. ``src`` must already be projected to exactly the
    columns the caller wants out (plus ``vec_col``) — §4.1 column
    discipline: everything passed crosses the boundary. The output
    appends ``out_col`` (long cid, or array<long> of the
    top-``nprobe`` cells when ``nprobe`` is set).

    Rows whose vector is NULL or whose length differs from the
    centroid dim emit a NULL assignment. (The fixtures and both
    generators are uniform-dim with non-null vectors; the in-plan
    fold's NULL-padded zip_with semantics cannot arise on them —
    this branch exists so malformed rows degrade to a droppable NULL
    instead of crashing the kernel.)
    """
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as T

    rows = sorted(
        ((int(r[0]), [float(x) for x in r[1]]) for r in cents.collect()),
        key=lambda t: t[0],
    )
    cid_arr = np.asarray([t[0] for t in rows], dtype=np.int64)
    cmat = np.asarray([t[1] for t in rows], dtype=np.float64)
    n_cents = len(rows)
    d_cent = int(cmat.shape[1]) if n_cents else 0
    probe_n = None if nprobe is None else max(0, min(int(nprobe), n_cents))
    # centroids ship as ONE Spark broadcast variable — per executor,
    # not per pickled task closure (r15 verdict item 4: at scale-out
    # task counts an embedded n_cents×d float64 matrix multiplies
    # into every task binary; a broadcast moves it once per worker)
    bc_cents = src.sparkSession.sparkContext.broadcast((cid_arr, cmat))

    out_field = (
        T.StructField(out_col, T.ArrayType(T.LongType()), True)
        if nprobe is not None
        else T.StructField(out_col, T.LongType(), True)
    )
    out_schema = T.StructType(list(src.schema.fields) + [out_field])

    def _core(X: "np.ndarray") -> "np.ndarray":
        # n×m distance accumulators, filled dimension by dimension
        # in index order — each (row, centroid) cell sees the exact
        # fold sequence 0.0 + t0² + t1² + … Rows are processed in
        # bounded slabs (r15 verdict item 8): the accumulator is
        # rows × n_cents float64, so an uncapped 10k-row Arrow batch
        # against thousands of centroids would hold hundreds of MB
        # per Python worker × every concurrent task; the 4M-element
        # slab caps it at ~32 MB regardless of batch or codebook
        # size, with per-cell arithmetic unchanged.
        cid_a, cm = bc_cents.value
        out_shape = (
            (X.shape[0],) if probe_n is None else (X.shape[0], probe_n)
        )
        out = np.empty(out_shape, dtype=np.int64)
        slab = max(1, (1 << 22) // max(n_cents, 1))
        for lo in range(0, X.shape[0], slab):
            Xs = X[lo : lo + slab]
            acc = np.zeros((Xs.shape[0], n_cents), dtype=np.float64)
            for i in range(d_cent):
                t = Xs[:, i : i + 1] - cm[:, i]
                acc += t * t
            np.copyto(acc, np.inf, where=np.isnan(acc))
            if probe_n is None:
                out[lo : lo + slab] = cid_a[np.argmin(acc, axis=1)]
            else:
                order = np.argsort(acc, axis=1, kind="stable")[
                    :, :probe_n
                ]
                out[lo : lo + slab] = cid_a[order]
        return out

    def assign(batches):
        for b in batches:
            n = b.num_rows
            cols = list(b.columns)
            names = list(b.schema.names) + [out_col]
            col = b.column(b.schema.get_field_index(vec_col))
            lens = np.asarray(col.value_lengths().fill_null(0))
            valid = np.asarray(col.is_valid())
            ok = valid & (lens == d_cent) if n else valid
            flat = np.asarray(col.flatten(), dtype=np.float64)
            if n and n_cents and ok.all():
                picked = _core(flat.reshape(n, d_cent))
                if probe_n is None:
                    out = pa.array(picked, type=pa.int64())
                else:
                    offs = np.arange(0, (n + 1) * probe_n, probe_n)
                    out = pa.ListArray.from_arrays(
                        pa.array(offs, type=pa.int32()),
                        pa.array(picked.ravel(), type=pa.int64()),
                    )
            else:
                # degenerate rows (NULL / ragged vectors): per-row
                # python build, NULL assignment where not ok
                starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                idx = np.nonzero(ok)[0]
                if len(idx) and n_cents:
                    X = np.empty((len(idx), d_cent), dtype=np.float64)
                    for j, i in enumerate(idx):
                        X[j] = flat[starts[i] : starts[i] + d_cent]
                    picked = _core(X)
                vals: list = [None] * n
                for j, i in enumerate(idx):
                    if not n_cents:
                        break
                    vals[i] = (
                        int(picked[j])
                        if probe_n is None
                        else [int(c) for c in picked[j]]
                    )
                out = pa.array(
                    vals,
                    type=(
                        pa.int64()
                        if probe_n is None
                        else pa.list_(pa.int64())
                    ),
                )
            yield pa.RecordBatch.from_arrays(cols + [out], names=names)

    return src.mapInArrow(assign, out_schema)


def _assign_codes_arrow(
    subs: DataFrame,
    seeds: DataFrame,
    vec_col: str = "sv",
    sub_col: str = "sub_id",
    out_col: str = "cid",
    with_d2: bool = False,
) -> DataFrame:
    """per-SUBSPACE codeword assignment as a ``mapInArrow`` NumPy
    kernel — ``_assign_cells_arrow``'s product-quantization sibling:
    each input row (…, ``sub_col``, ``vec_col``) ranks against the
    codebook of ITS OWN subspace. Same bit-identity contract
    (dimension-ordered d2 accumulation, first-win argmin = (d2, cid)
    order, NaN→+inf); ``with_d2=True`` additionally emits the
    winning d2 — a float, but Arrow float64 transport is bit-exact,
    and the consumer (``embedding_pq``'s recon_err) quantizes it
    through the same ``fixed_sum`` it always did.

    ``seeds``: (c_sub, cid, cv) rows, collected here (m × codewords
    rows — codebook-sized, the same relation the broadcast
    join shipped).

    Degenerate-input contract (r15 advice, documented divergence):
    a row whose ``sub_col`` has NO codebook entry (or whose vector
    length differs from that codebook's dim) emits a NULL ``cid``
    here, where the in-plan fold arm's inner join on sub_id == c_sub
    DROPS the row entirely.  Every registered consumer builds the
    codebook from the same corpus it encodes, so absent sub_ids
    cannot arise there; callers feeding foreign codebooks must
    filter NULL cids if they want the join semantics."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as T

    books: dict[int, tuple] = {}
    grouped: dict[int, list] = {}
    for r in seeds.collect():
        grouped.setdefault(int(r[0]), []).append(
            (int(r[1]), [float(x) for x in r[2]])
        )
    for s, rows in grouped.items():
        rows.sort(key=lambda t: t[0])
        books[s] = (
            np.asarray([t[0] for t in rows], dtype=np.int64),
            np.asarray([t[1] for t in rows], dtype=np.float64),
        )
    # codebooks ride a Spark broadcast, not the task closure (r15
    # verdict item 4 — same reasoning as _assign_cells_arrow)
    bc_books = subs.sparkSession.sparkContext.broadcast(books)

    fields = list(subs.schema.fields) + [
        T.StructField(out_col, T.LongType(), True)
    ]
    if with_d2:
        fields.append(T.StructField("_d2", T.DoubleType(), True))
    out_schema = T.StructType(fields)

    def assign(batches):
        for b in batches:
            n = b.num_rows
            names = list(b.schema.names) + [out_col] + (
                ["_d2"] if with_d2 else []
            )
            vcol = b.column(b.schema.get_field_index(vec_col))
            scol = b.column(b.schema.get_field_index(sub_col))
            sub_ids = np.asarray(scol.fill_null(-1)).astype(np.int64)
            lens = np.asarray(vcol.value_lengths().fill_null(0))
            valid = np.asarray(vcol.is_valid())
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            flat = np.asarray(vcol.flatten(), dtype=np.float64)
            out_ids = np.zeros(n, dtype=np.int64)
            out_d2 = np.zeros(n, dtype=np.float64)
            got = np.zeros(n, dtype=bool)
            for s, (ids, cmat) in bc_books.value.items():
                d = cmat.shape[1]
                mask = valid & (sub_ids == s) & (lens == d)
                idx = np.nonzero(mask)[0]
                if not len(idx):
                    continue
                if mask.all():
                    X = flat.reshape(n, d)
                else:
                    # vectorized gather (r15 advice item 3): the
                    # mask.all() fast path is unreachable for m>1
                    # because posexplode interleaves sub_ids within
                    # every batch — a per-row Python slice loop here
                    # undercut the kernel's vectorization
                    X = flat[starts[idx][:, None] + np.arange(d)]
                acc = np.zeros((X.shape[0], cmat.shape[0]))
                for i in range(d):
                    t = X[:, i : i + 1] - cmat[:, i]
                    acc += t * t
                # rank on a NaN→inf copy (Spark's NaN-ranks-last),
                # but emit the RAW winning d2 — the in-plan fold's
                # exact value, NaN included
                ranked = np.where(np.isnan(acc), np.inf, acc)
                best = np.argmin(ranked, axis=1)
                out_ids[idx] = ids[best]
                out_d2[idx] = acc[np.arange(len(idx)), best]
                got[idx] = True
            arrs = list(b.columns) + [
                pa.array(out_ids, type=pa.int64(), mask=~got)
            ]
            if with_d2:
                arrs.append(pa.array(out_d2, type=pa.float64(), mask=~got))
            yield pa.RecordBatch.from_arrays(arrs, names=names)

    return subs.mapInArrow(assign, out_schema)


def lsh_multiprobe_topk(
    emb: DataFrame,
    query_ids: Sequence[int] = ANN_QUERY_IDS,
    k: int = ANN_TOP_K,
    dims: int = LSH_SIGN_DIMS,
    max_hamming: int | None = None,
    _qrows: list | None = None,
) -> DataFrame:
    """multi-probe sign-LSH: each query searches every bucket within
    Hamming distance ``max_hamming`` of its own — the standard
    recall/cost dial for bucketed LSH, scanning Σ C(dims, h)/2^dims
    of the corpus per query.

    Honest eval note (``ann_recall``): this corpus's true top-10
    neighbors lie at cosine 0.30-0.42, i.e. θ ≈ 65-72°, so the
    hyperplane agreement probability is 1 − θ/π ≈ 0.63 per bit and
    the EXPECTED recall of any 6-bit sign family is ~0.25 at radius
    1 and ~0.57 at radius 2 — the Hadamard rotation in
    ``sign_bucket`` brings the measured recall to that theoretical
    curve (the old axis-aligned form sat below it at 0.0-0.1 single
    bucket), and radius (default ``LSH_PROBE_HAMMING`` = 2) buys the
    rest. A geometry like this is IVF's home turf — the eval shows
    recall_ivf ≈ 1.0 — which is exactly the decision the
    oracle-checked eval exists to surface.

    Plan shape: the query side explodes to Σ C(dims, ≤h) probe rows
    (still query-sized), then the same broadcast bucket equi-join as
    ``lsh_topk`` — corpus never shuffles, probe fan-out rides the
    broadcast. Each corpus row has one bucket, probe buckets are
    distinct, so no pair dedup is needed.
    """
    from itertools import combinations

    from rsbsa_etl_spark.params import LSH_PROBE_HAMMING

    h = LSH_PROBE_HAMMING if max_hamming is None else max_hamming
    masks = [0] + [
        sum(1 << i for i in bits)
        for r in range(1, h + 1)
        for bits in combinations(range(dims), r)
    ]
    # default (r16): buckets + in-bucket scoring in the Arrow batch
    # kernel — the probe fan-out becomes each query's bucket-ID SET
    # in the kernel broadcast (masks XOR the query's own bucket);
    # the probe-exploded equi-join arm stays under the dial
    if _use_arrow_score():
        qrows = (
            _collect_id_vecs(
                emb.where(
                    F.col("vec_id").isin([int(q) for q in query_ids])
                ),
                "vec_id",
                "embedding",
            )
            if _qrows is None
            else _qrows
        )
        probes = [
            [_py_sign_bucket(v, dims) ^ m for m in masks]
            for _, v in qrows
        ]
        scored = _topk_scores_arrow(
            emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            qrows,
            "embedding",
            "neighbor_id",
            k,
            probes=probes,
            lsh_bits=dims,
        )
        if scored is not None:
            w = Window.partitionBy("query_id").orderBy(
                F.col("cosine").desc(), F.col("neighbor_id").asc()
            )
            return (
                scored.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select(
                    "query_id",
                    "neighbor_id",
                    dec_round(F.col("cosine"), 4).alias("cosine"),
                    F.col("rank").cast("int").alias("rank"),
                )
            )
    e = with_norm(emb).withColumn("bucket", sign_bucket(dims=dims))
    corpus = e.select(
        "bucket",
        F.col("vec_id").alias("neighbor_id"),
        F.col("_vd").alias("vn"),
        F.col("_norm").alias("nn"),
    )
    probe_arr = F.array(
        *[
            F.col("bucket").bitwiseXOR(F.lit(m)).cast("int")
            for m in masks
        ],
    )
    queries = e.where(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"),
        F.col("_vd").alias("vq"),
        F.col("_norm").alias("nq"),
        F.explode(probe_arr).alias("bucket"),
    )
    sim = dec_round(safe_div(dot(F.col("vq"), F.col("vn")), F.col("nq") * F.col("nn")), 6)
    scored = (
        corpus.join(F.broadcast(queries), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            dec_round(F.col("cosine"), 4).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def ivf_assignments(
    emb: DataFrame, n_centroids: int = IVF_CENTROIDS
) -> DataFrame:
    """Voronoi cell assignment against the deterministic iteration-0
    centroids (first ``n_centroids`` vectors by vec_id) — the E-step
    of Lloyd's algorithm, shared by ``ivf_topk`` (which inlines the
    same construction for its own probe side) and ``ivf_train``.

    Returns the input rows plus their ``cid``. Centroids are
    index-sized; the argmin runs as the vectorized Arrow kernel
    (``_assign_cells_arrow`` — bit-identical decision arithmetic,
    r15) or, under ``SPARK_GRAFT_ASSIGN_ARROW=0``, as the broadcast
    per-row expression fold (``_argmin_cell``). Either way the
    corpus is read once with no shuffle before the caller's next agg.
    """
    e = with_norm(emb)
    cents = e.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("_vd").alias("vc")
    )
    if _use_arrow_assign():
        return _assign_cells_arrow(
            emb.select("vec_id", "embedding"), cents, "embedding"
        )
    best = _argmin_cell(F.col("_vd"), F.col("cs"))
    return (
        e.join(F.broadcast(_collected_centroids(cents)))
        .select("vec_id", "embedding", best["cid"].alias("cid"))
    )


def assign_to_centroids(emb: DataFrame, cvec: DataFrame) -> DataFrame:
    """Voronoi assignment against an arbitrary centroid table
    (cid, vc: array<double>) — the E-step against *trained*
    centroids, vs ``ivf_assignments``'s iteration-0 seed. Same plan
    as there: Arrow kernel by default, broadcast expression fold
    under the fallback dial, no shuffle either way.
    """
    if _use_arrow_assign():
        return _assign_cells_arrow(
            emb.select("vec_id", "embedding"), cvec, "embedding"
        )
    e = with_norm(emb)
    best = _argmin_cell(F.col("_vd"), F.col("cs"))
    return (
        e.join(F.broadcast(_collected_centroids(cvec)))
        .select("vec_id", "embedding", best["cid"].alias("cid"))
    )


def quantize_int8(embeddings: DataFrame) -> DataFrame:
    """symmetric int8 quantization of embedding vectors — the
    storage/serving compression step of an embedding pipeline
    (4 bytes → 1 byte per dim). Per-vector scale = max|x|/127;
    q_i = floor(x_i·127/max|x| + 0.5).

    Entirely array-expression work (aggregate for the max, transform
    for the per-element map) — narrow, codegen'd, zero shuffle, and
    embarrassingly parallel at any scale. The emitted digest columns
    (sum/min/max/md5 of the quantized ints) value-check the whole
    vector without shipping arrays through the comparer.

    Determinism: max is order-free; the quantization expression is
    multiply/divide/floor — each correctly-rounded IEEE — applied in
    the same shape in the DuckDB oracle, so every q_i is identical.
    """
    vec = F.col("embedding")
    m = F.aggregate(
        vec, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x.cast("double")))
    )
    q = F.transform(
        vec,
        lambda x: F.floor(x.cast("double") * F.lit(127.0) / F.col("maxabs") + F.lit(0.5)).cast(
            "long"
        ),
    )
    return (
        embeddings.select("vec_id", "embedding", m.alias("maxabs"))
        .where(F.col("maxabs") > 0)
        .select(
            "vec_id",
            F.size("embedding").alias("n_dims"),
            q.alias("qv"),
        )
        .select(
            "vec_id",
            "n_dims",
            F.aggregate("qv", F.lit(0).cast("long"), lambda a, x: a + x).alias(
                "q_sum"
            ),
            F.array_min("qv").alias("q_min"),
            F.array_max("qv").alias("q_max"),
            F.md5(F.concat_ws(",", F.transform("qv", lambda x: x.cast("string")))).alias(
                "q_md5"
            ),
        )
    )


def _pq_codes_arrow(
    src: DataFrame,
    seeds_rows: list,
    m: int,
    sub: int,
) -> DataFrame | None:
    """single-pass product-quantization codes + reconstruction error
    as ONE ``mapInArrow`` kernel (r16, guide §2.4/§4.2): the explode
    → per-sub assignment → regroup pipeline shipped corpus×m rows
    through the Python boundary and paid a corpus-sized groupBy
    exchange to reassemble them; here each vector's ``m`` codes and
    its quantized error come out of the same batch, zero shuffle.

    Bit-identical arithmetic: per-sub d2 is the dimension-ordered
    fold; argmin is first-win over cid-sorted codebooks (the (d2,
    cid) order) on a NaN→+inf ranked copy with the RAW winning d2
    kept; recon_err replicates ``fixed_sum(d2, 6)`` exactly —
    per-sub floor(d2·1e6 + 0.5) under Java's (long) cast (NaN→0),
    summed as int64, one final double division.

    ``seeds_rows``: collected (vec_id, vector) codeword seeds; the
    per-sub codebooks are sliced driver-side and ship as one Spark
    broadcast. Returns None on degenerate seeds (NULL / short
    vectors) — the explode pipeline defines semantics there. Corpus
    rows whose vector is NULL or shorter than a subspace's span get
    NULL for that code (the fold's NULL-slice semantics); recon_err
    sums the valid subspaces only (SQL SUM skips NULLs) and is NULL
    when none are valid.
    """
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as T

    dims_needed = m * sub
    if not seeds_rows or any(
        v is None or len(v) < dims_needed for _, v in seeds_rows
    ):
        return None
    books = []
    for j in range(m):
        rows = sorted(
            (cid, v[j * sub : (j + 1) * sub]) for cid, v in seeds_rows
        )
        books.append(
            (
                np.asarray([c for c, _ in rows], dtype=np.int64),
                np.asarray([s for _, s in rows], dtype=np.float64),
            )
        )
    bc = src.sparkSession.sparkContext.broadcast(books)

    fields = [T.StructField("vec_id", T.LongType(), True)]
    fields += [
        T.StructField(f"code{j}", T.LongType(), True) for j in range(m)
    ]
    fields.append(T.StructField("recon_err", T.DoubleType(), True))
    out_schema = T.StructType(fields)
    LMAX = np.iinfo(np.int64).max
    LMIN = np.iinfo(np.int64).min

    def _floor_long(v):
        out = np.zeros(v.shape, dtype=np.int64)
        fin = np.isfinite(v)
        big = fin & (v >= 9.223372036854776e18)
        small = fin & (v <= -9.223372036854776e18)
        mid = fin & ~big & ~small
        out[mid] = v[mid].astype(np.int64)
        out[big | (v == np.inf)] = LMAX
        out[small | (v == -np.inf)] = LMIN
        return out

    def encode(batches):
        books_ = bc.value
        for b in batches:
            n = b.num_rows
            icol = b.column(b.schema.get_field_index("vec_id"))
            vcol = b.column(b.schema.get_field_index("embedding"))
            lens = np.asarray(vcol.value_lengths().fill_null(0))
            vva = np.asarray(vcol.is_valid())
            flat = np.asarray(vcol.flatten(), dtype=np.float64)
            code_cols = [
                np.zeros(n, dtype=np.int64) for _ in range(m)
            ]
            code_ok = [np.zeros(n, dtype=bool) for _ in range(m)]
            err_acc = np.zeros(n, dtype=np.int64)
            any_ok = np.zeros(n, dtype=bool)
            uniform = bool(n) and bool(vva.all()) and len(set(lens)) == 1
            L = int(lens[0]) if uniform else 0
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            for j, (ids_j, cm_j) in enumerate(books_):
                ok_j = vva & (lens >= (j + 1) * sub)
                idx = np.nonzero(ok_j)[0]
                if not len(idx):
                    continue
                if uniform and L >= (j + 1) * sub:
                    X = flat.reshape(n, L)[:, j * sub : (j + 1) * sub]
                    idx = np.arange(n)
                else:
                    X = flat[
                        (starts[idx] + j * sub)[:, None] + np.arange(sub)
                    ]
                acc = np.zeros((X.shape[0], cm_j.shape[0]))
                for i in range(sub):
                    t = X[:, i : i + 1] - cm_j[:, i]
                    acc += t * t
                ranked = np.where(np.isnan(acc), np.inf, acc)
                best = np.argmin(ranked, axis=1)
                code_cols[j][idx] = ids_j[best]
                code_ok[j][idx] = True
                err_acc[idx] += _floor_long(
                    acc[np.arange(len(idx)), best] * 1e6 + 0.5
                )
                any_ok[idx] = True
            arrs = [icol]
            names = ["vec_id"] + [f"code{j}" for j in range(m)] + [
                "recon_err"
            ]
            for j in range(m):
                arrs.append(
                    pa.array(
                        code_cols[j], type=pa.int64(), mask=~code_ok[j]
                    )
                )
            arrs.append(
                pa.array(
                    err_acc.astype(np.float64) / 1e6,
                    type=pa.float64(),
                    mask=~any_ok,
                )
            )
            yield pa.RecordBatch.from_arrays(arrs, names=names)

    return src.mapInArrow(encode, out_schema)


def pq_codes(
    emb: DataFrame,
    m: int = PQ_SUBSPACES,
    k: int = PQ_CODEWORDS,
    dims: int = 64,
) -> DataFrame:
    """product quantization — the memory-compression half of a
    billion-scale ANN index (IVF-PQ): each vector splits into ``m``
    subvectors, each subvector snaps to its nearest of ``k``
    per-subspace codewords (seeded deterministically from the first
    ``k`` vectors, matching the IVF iteration-0 convention), and the
    vector is stored as ``m`` small codes (here 4×4 bits ≈ 2 bytes
    vs 256 bytes raw). Emits the per-subspace codes plus the total
    reconstruction error — the quality metric that drives codebook
    size choices.

    Plan shape: codebooks derive from a filtered self-scan
    (vec_id < k) and BROADCAST; the corpus explodes to m subvector
    rows, folds the k-candidate argmin per row (row_number over a
    (vec_id, sub_id) window — partition-local after one shuffle),
    and regroups to one row per vector. At 100 TB the corpus is
    touched twice (explode + regroup) with only narrow columns in
    flight; the codebook side is O(k·m) and never shuffles.

    Determinism: distances are double folds in fixed element order;
    the regrouped error re-quantizes each subspace distance to a
    long before summing (order-independent); ties in the argmin
    break on codeword id.

    Default (r16): the whole explode → assign → regroup pipeline
    runs as ONE batch kernel (``_pq_codes_arrow``) — codes and the
    quantized error per vector from a single narrow pass, zero
    shuffle before the output ordering. ``SPARK_GRAFT_SCORE_ARROW=0``
    restores the exploded pipeline below (which keeps its own r15
    per-sub assignment dial)."""
    sub = dims // m
    if _use_arrow_score():
        seeds_rows = _collect_id_vecs(
            emb.where(F.col("vec_id") < k), "vec_id", "embedding"
        )
        out = _pq_codes_arrow(
            emb.select("vec_id", "embedding"), seeds_rows, m, sub
        )
        if out is not None:
            return out.orderBy("vec_id")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = emb.select("vec_id", v.alias("v"))
    slices = F.array(*[F.slice("v", j * sub + 1, sub) for j in range(m)])
    subs = e.select("vec_id", F.posexplode(slices).alias("sub_id", "sv"))
    seeds = subs.where(F.col("vec_id") < k).select(
        F.col("sub_id").alias("c_sub"), F.col("vec_id").alias("cid"),
        F.col("sv").alias("cv"),
    )
    # per-subspace codeword argmin, shuffle-free either way: the
    # Arrow kernel (default — codebooks ride the closure) or the
    # expression fold against broadcast per-sub codebook arrays
    # (fallback dial); the former (vec_id, sub_id) window shuffled
    # corpus×m×k rows
    if _use_arrow_assign():
        best = _assign_codes_arrow(
            subs, seeds, with_d2=True
        ).select("vec_id", "sub_id", "cid", F.col("_d2").alias("d2"))
    else:
        seeds_arr = seeds.groupBy("c_sub").agg(
            F.collect_list(
                F.struct("cid", F.col("cv").alias("vc"))
            ).alias("cs")
        )
        bestc = _argmin_cell(F.col("sv"), F.col("cs"))
        best = subs.join(
            F.broadcast(seeds_arr), F.col("sub_id") == F.col("c_sub")
        ).select(
            "vec_id",
            "sub_id",
            bestc["cid"].alias("cid"),
            bestc["d2"].alias("d2"),
        )
    code_cols = [
        F.max(F.when(F.col("sub_id") == j, F.col("cid"))).alias(f"code{j}")
        for j in range(m)
    ]
    return (
        best.groupBy("vec_id")
        .agg(*code_cols, fixed_sum(F.col("d2"), 6, "recon_err"))
        .orderBy("vec_id")
    )


def _ivfpq_scores_arrow(
    src: DataFrame,
    side_rows: list,
    qrows: list,
    n_centroids: int,
    codewords: int,
    nprobe: int,
    m: int,
    sub: int,
    k: int,
) -> DataFrame | None:
    """the whole IVF-PQ candidate + ADC pipeline as ONE batch kernel
    (r16, guide §2.4/§4.2): cell assignment, per-sub code
    assignment, probed-cell candidate restriction, and the ADC
    fixed-point fold — the exploded-codes shuffle join
    (cand ⋈ codes ⋈ dtab → groupBy) disappears; the ranking window
    receives batch-local top-k rows only.

    Driver-side: probe sets via the exact l2² fold + (d2, cid)
    order; the per-(query, sub, codeword) distance table is
    pre-quantized with Java's floor→long cast (NaN→0), so the
    kernel's ADC is a pure int64 gather-sum — exactly
    ``fixed_sum(qd2, 6)`` over the joined rows. Returns None on
    degenerate side tables (the fold arm defines semantics there);
    corpus rows of deviant dimensionality drop, matching the
    NULL-cid inner join of the assignment arm."""
    import math

    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as T

    if not qrows or any(v is None for _, v in qrows):
        return None
    d = _uniform_dim(qrows)
    cents_rows = [(i, v) for i, v in side_rows if i < n_centroids]
    seed_rows = [(i, v) for i, v in side_rows if i < codewords]
    if (
        d is None
        or d < m * sub
        or not cents_rows
        or not seed_rows
        or _uniform_dim(cents_rows) != d
        or _uniform_dim(seed_rows) != d
    ):
        return None
    qids = [q for q, _ in qrows]
    probes = [
        np.asarray(
            sorted(_py_nearest_cells(v, cents_rows, nprobe)), dtype=np.int64
        )
        for _, v in qrows
    ]
    cid_arr = np.asarray([c for c, _ in cents_rows], dtype=np.int64)
    cmat = np.asarray([v for _, v in cents_rows], dtype=np.float64)
    books = []
    for j in range(m):
        rows = sorted(
            (cid, v[j * sub : (j + 1) * sub]) for cid, v in seed_rows
        )
        books.append(np.asarray([s for _, s in rows], dtype=np.float64))

    def _py_floor_long(x: float) -> int:
        t = x * 1e6 + 0.5
        if math.isnan(t):
            return 0
        if t == math.inf:
            return 2**63 - 1
        if t == -math.inf:
            return -(2**63)
        f = math.floor(t)
        return max(-(2**63), min(2**63 - 1, f))

    # pre-quantized ADC table: (query, sub, codeword-position) int64
    qd2q = np.zeros((len(qrows), m, len(seed_rows)), dtype=np.int64)
    for qi, (_, qv) in enumerate(qrows):
        for j in range(m):
            qs = qv[j * sub : (j + 1) * sub]
            for p in range(books[j].shape[0]):
                qd2q[qi, j, p] = _py_floor_long(
                    _fold_l2sq(qs, books[j][p])
                )

    bc = src.sparkSession.sparkContext.broadcast(
        {
            "qids": np.asarray(qids, dtype=np.int64),
            "probes": probes,
            "cids": cid_arr,
            "cmat": cmat,
            "books": books,
            "qd2q": qd2q,
        }
    )
    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("neighbor_id", T.LongType(), True),
            T.StructField("approx_d2", T.DoubleType(), True),
        ]
    )
    kk = int(k)
    mm_ = m
    sub_ = sub
    dd = d

    def score(batches):
        env = bc.value
        qids_, probes_ = env["qids"], env["probes"]
        cids_, cmat_, books_, qd2q_ = (
            env["cids"],
            env["cmat"],
            env["books"],
            env["qd2q"],
        )
        nq = len(qids_)
        for b in batches:
            n = b.num_rows
            icol = b.column(b.schema.get_field_index("neighbor_id"))
            vcol = b.column(b.schema.get_field_index("embedding"))
            oq, oi, os_ = [], [], []
            if n:
                id_ok = np.asarray(icol.is_valid())
                ids = np.asarray(icol.fill_null(0)).astype(np.int64)
                lens = np.asarray(vcol.value_lengths().fill_null(0))
                vva = np.asarray(vcol.is_valid())
                ok = id_ok & vva & (lens == dd)
                flat = np.asarray(vcol.flatten(), dtype=np.float64)
                okidx = np.nonzero(ok)[0]
                if ok.all():
                    X = flat.reshape(n, dd)
                elif len(okidx):
                    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                    X = flat[starts[okidx][:, None] + np.arange(dd)]
                else:
                    X = np.empty((0, dd), dtype=np.float64)
                nok = X.shape[0]
                oids = ids[okidx]
                # cell assignment (slab-capped fold)
                cell = np.empty(nok, dtype=np.int64)
                slab = max(1, (1 << 22) // max(cmat_.shape[0], 1))
                for lo in range(0, nok, slab):
                    Xs = X[lo : lo + slab]
                    acc = np.zeros(
                        (Xs.shape[0], cmat_.shape[0]), dtype=np.float64
                    )
                    for i in range(dd):
                        t = Xs[:, i : i + 1] - cmat_[:, i]
                        acc += t * t
                    np.copyto(acc, np.inf, where=np.isnan(acc))
                    cell[lo : lo + slab] = cids_[np.argmin(acc, axis=1)]
                # per-sub code POSITIONS (first-win argmin = (d2,cid)
                # order over the cid-sorted books)
                pos = np.empty((mm_, nok), dtype=np.int64)
                for j in range(mm_):
                    cmj = books_[j]
                    Xs = X[:, j * sub_ : (j + 1) * sub_]
                    accj = np.zeros(
                        (nok, cmj.shape[0]), dtype=np.float64
                    )
                    for i in range(sub_):
                        t = Xs[:, i : i + 1] - cmj[:, i]
                        accj += t * t
                    np.copyto(accj, np.inf, where=np.isnan(accj))
                    pos[j] = np.argmin(accj, axis=1)
                for qi in range(nq):
                    cand = np.isin(cell, probes_[qi]) & (
                        oids != qids_[qi]
                    )
                    cix = np.nonzero(cand)[0]
                    if not len(cix):
                        continue
                    adc = np.zeros(len(cix), dtype=np.int64)
                    for j in range(mm_):
                        adc += qd2q_[qi, j][pos[j][cix]]
                    order = np.lexsort((oids[cix], adc))[:kk]
                    sel = cix[order]
                    take = len(order)
                    oq.append(
                        np.full(take, qids_[qi], dtype=np.int64)
                    )
                    oi.append(oids[sel])
                    os_.append(adc[order].astype(np.float64) / 1e6)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(
                        np.concatenate(oq)
                        if oq
                        else np.array([], dtype=np.int64),
                        type=pa.int64(),
                    ),
                    pa.array(
                        np.concatenate(oi)
                        if oi
                        else np.array([], dtype=np.int64),
                        type=pa.int64(),
                    ),
                    pa.array(
                        np.concatenate(os_)
                        if os_
                        else np.array([], dtype=np.float64),
                        type=pa.float64(),
                    ),
                ],
                names=["query_id", "neighbor_id", "approx_d2"],
            )

    return src.mapInArrow(score, out_schema)


def ivfpq_topk(
    emb: DataFrame,
    query_ids: Sequence[int] = ANN_QUERY_IDS,
    k: int = ANN_TOP_K,
    n_centroids: int = IVF_CENTROIDS,
    nprobe: int = IVF_NPROBE,
    m: int = PQ_SUBSPACES,
    codewords: int = PQ_CODEWORDS,
    dims: int = 64,
) -> DataFrame:
    """IVF-PQ — the billion-scale ANN architecture (coarse Voronoi
    probe to cut candidates, then product-quantized asymmetric
    distance instead of touching raw vectors): queries probe their
    ``nprobe`` nearest cells and rank candidates by ADC — the sum
    over subspaces of the exact distance from the query's subvector
    to the candidate's CODEWORD. Only codes (m small ints per
    vector) are needed at rank time; raw candidate vectors never
    load — the property that lets a 100 TB corpus serve from RAM.

    Plan shape: centroids, codebooks, and the per-query
    (subspace × codeword) distance table are all tiny derived
    tables → broadcast; the corpus is scanned once for cell
    assignment and once for code assignment (each a shuffle-free
    argmin expression fold over collected broadcast codebooks);
    ranking joins codes against the broadcast distance table and
    folds m quantized longs per candidate — order-independent,
    oracle-exact.

    Determinism: both seed sets follow the iteration-0 convention
    (first n vectors by vec_id); every distance is a sequential
    double fold matching DuckDB ``list_sum``; ADC re-quantizes each
    subspace distance to a long before summing; all ranks tie-break
    on id.

    Default (r16): the whole pipeline — cell assignment, codes,
    probed-candidate restriction, ADC — runs as ONE batch kernel
    (``_ivfpq_scores_arrow``); only the final per-query ranking
    window stays in-plan. ``SPARK_GRAFT_SCORE_ARROW=0`` restores
    the join pipeline below (with its own r15 assignment dials)."""
    sub = dims // m
    if _use_arrow_score():
        side_rows = _collect_id_vecs(
            emb.where(F.col("vec_id") < max(n_centroids, codewords)),
            "vec_id",
            "embedding",
        )
        qrows = _collect_id_vecs(
            emb.where(F.col("vec_id").isin([int(q) for q in query_ids])),
            "vec_id",
            "embedding",
        )
        scored = _ivfpq_scores_arrow(
            emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
            side_rows,
            qrows,
            n_centroids,
            codewords,
            nprobe,
            m,
            sub,
            k,
        )
        if scored is not None:
            wr = Window.partitionBy("query_id").orderBy(
                F.col("approx_d2").asc(), F.col("neighbor_id").asc()
            )
            return (
                scored.withColumn("rank", F.row_number().over(wr))
                .where(F.col("rank") <= k)
                .select(
                    "query_id",
                    "neighbor_id",
                    dec_round(F.col("approx_d2"), 4).alias("approx_d2"),
                    F.col("rank").cast("int").alias("rank"),
                )
            )
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    e = emb.select("vec_id", v.alias("v"))

    def l2sq(a: Column, b: Column) -> Column:
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    cents = e.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("vc")
    )

    def nearest_cells(side: DataFrame, idcol: str, n: int) -> DataFrame:
        scored = side.join(F.broadcast(cents), F.lit(True)).select(
            idcol, "cid", l2sq(F.col("v"), F.col("vc")).alias("d2")
        )
        w = Window.partitionBy(idcol).orderBy(F.col("d2").asc(), F.col("cid").asc())
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= n)
            .select(idcol, "cid")
        )

    corpus = e.select(F.col("vec_id").alias("neighbor_id"), "v")
    # corpus cell assignment: shuffle-free — Arrow kernel (default)
    # or argmin fold (fallback dial); the window form stays only for
    # the tiny nprobe query side below
    if _use_arrow_assign():
        cells = _assign_cells_arrow(corpus, cents, "v").select(
            "neighbor_id", "cid"
        )
    else:
        bestcell = _argmin_cell(F.col("v"), F.col("cs"))
        cells = corpus.join(
            F.broadcast(_collected_centroids(cents))
        ).select("neighbor_id", bestcell["cid"].alias("cid"))

    slices = F.array(*[F.slice("v", j * sub + 1, sub) for j in range(m)])
    subs = e.select("vec_id", F.posexplode(slices).alias("sub_id", "sv"))
    seeds = subs.where(F.col("vec_id") < codewords).select(
        F.col("sub_id").alias("c_sub"), F.col("vec_id").alias("code"),
        F.col("sv").alias("cv"),
    )
    # codeword assignment: same shuffle-free treatment — Arrow
    # kernel (default, per-sub codebooks in the closure) or the
    # expression fold over broadcast per-sub codebook arrays
    # (fallback dial); the former (vec_id, sub_id) window shuffled
    # corpus×m×k rows
    if _use_arrow_assign():
        codes = _assign_codes_arrow(subs, seeds).select(
            F.col("vec_id").alias("neighbor_id"),
            "sub_id",
            F.col("cid").alias("code"),
        )
    else:
        seeds_arr = seeds.groupBy("c_sub").agg(
            F.collect_list(
                F.struct(F.col("code").alias("cid"), F.col("cv").alias("vc"))
            ).alias("cs")
        )
        bestcode = _argmin_cell(F.col("sv"), F.col("cs"))
        codes = subs.join(
            F.broadcast(seeds_arr), F.col("sub_id") == F.col("c_sub")
        ).select(
            F.col("vec_id").alias("neighbor_id"),
            "sub_id",
            bestcode["cid"].alias("code"),
        )

    queries = e.where(F.col("vec_id").isin(list(query_ids))).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("vq")
    )
    probes = nearest_cells(
        queries.select(F.col("query_id"), F.col("vq").alias("v")), "query_id", nprobe
    )
    q_subs = queries.select(
        "query_id",
        F.posexplode(
            F.array(*[F.slice("vq", j * sub + 1, sub) for j in range(m)])
        ).alias("sub_id", "qsv"),
    )
    dtab = q_subs.join(F.broadcast(seeds), F.col("sub_id") == F.col("c_sub")).select(
        "query_id",
        "sub_id",
        "code",
        F.aggregate(
            F.zip_with(F.col("qsv"), F.col("cv"), lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("qd2"),
    )

    cand = (
        cells.join(F.broadcast(probes), "cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
    )
    adc = (
        cand.join(codes, "neighbor_id")
        .join(F.broadcast(dtab), ["query_id", "sub_id", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(fixed_sum(F.col("qd2"), 6, "approx_d2"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.col("approx_d2").asc(), F.col("neighbor_id").asc()
    )
    return (
        adc.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            dec_round(F.col("approx_d2"), 4).alias("approx_d2"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = COSINE_THRESHOLD,
    n_centroids: int = IVF_CENTROIDS,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: cluster the corpus into
    Voronoi cells, then prune within each cell against a single
    deterministic exemplar — the cluster-then-prune shape used to
    dedup LLM training corpora at billion-document scale (one global
    pairwise pass is impossible there; within-cell comparisons are
    the whole trick).

    Deterministic contract (what makes it oracle-checkable):
    - cells = iteration-0 centroids (first ``n_centroids`` vec_ids),
      per-row argmin over the broadcast centroid table;
    - exemplar per cell = highest cosine to the centroid, vec_id
      tiebreak;
    - every other member is a duplicate iff cosine(member, exemplar)
      ≥ threshold. Exemplars are always kept.

    Plan shape at 100 TB: centroids broadcast (tiny); cell assignment
    is a shuffle-free argmin fold on one narrow scan; exemplar choice
    AND the member-vs-exemplar cosine ride the same per-cell window —
    ``first(...)`` over the full ordered frame pins the exemplar's
    vector onto every member row, so the whole operator is ONE corpus
    scan and ONE shuffle (by cell id). No pairwise stage anywhere —
    work is linear in corpus size. All distances are sequential
    double folds matching DuckDB's ``list_sum`` accumulation order.
    """
    e = with_norm(emb)
    cents = e.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"),
        F.col("_vd").alias("vc"),
        F.col("_norm").alias("nc"),
    )
    # cell assignment: shuffle-free — the Arrow kernel (default) or
    # the argmin fold over collected broadcast centroids (fallback
    # dial, see _argmin_cell); the chosen cell's centroid vector
    # comes back via a broadcast hash join on cid either way
    if _use_arrow_assign():
        picked = _assign_cells_arrow(
            e.select("vec_id", "_vd", "_norm"),
            cents.select("cid", "vc"),
            "_vd",
        )
    else:
        best = _argmin_cell(F.col("_vd"), F.col("cs"))
        picked = e.join(
            F.broadcast(_collected_centroids(cents.select("cid", "vc")))
        ).select("vec_id", "_vd", "_norm", best["cid"].alias("cid"))
    assigned = (
        picked.join(F.broadcast(cents), "cid")
        .select(
            "vec_id",
            "_vd",
            "_norm",
            "cid",
            dec_round(
                safe_div(dot(F.col("_vd"), F.col("vc")),
                         F.col("_norm") * F.col("nc")), 6
            ).alias("cos_centroid"),
        )
    )
    w_cell = Window.partitionBy("cid").orderBy(
        F.col("cos_centroid").desc(), F.col("vec_id").asc()
    )
    w_full = w_cell.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # first() over the full ordered frame = the cell's exemplar row,
    # available on every member row without a second branch + join
    ex = F.first(
        F.struct(
            F.col("vec_id").alias("id"),
            F.col("_vd").alias("ve"),
            F.col("_norm").alias("ne"),
        )
    ).over(w_full)
    with_ex = assigned.withColumn("ex", ex)
    sim_ex = dec_round(
        safe_div(dot(F.col("_vd"), F.col("ex.ve")),
                 F.col("_norm") * F.col("ex.ne")),
        4,
    )
    return with_ex.select(
        "vec_id",
        F.col("cid").cast("int").alias("cell_id"),
        F.col("ex.id").alias("exemplar_id"),
        sim_ex.alias("cos_exemplar"),
        (
            (F.col("vec_id") == F.col("ex.id")) | (sim_ex < F.lit(threshold))
        ).alias("keep"),
    )


def embedding_dedup_auto(
    emb: DataFrame,
    threshold: float = COSINE_THRESHOLD,
    max_vectors: int | None = None,
) -> DataFrame:
    """measured auto-dial over the two embedding-dedup arms (r15,
    closing the last quadratic kernel whose scale dial was
    documentation instead of a wired crossover — r14 verdict item 2):
    ONE corpus count, then the exact tiled all-pairs cosine join
    (``cosine_pairs`` — full recall by construction) while
    ``n ≤ max_vectors``, and the linear SemDeDup cluster-then-prune
    arm (``semantic_dedup``) above it.

    Both arms emit the same DUPLICATE-PAIR contract
    ``(vec_a < vec_b, cosine ≥ threshold)``: the exact arm's rows are
    every qualifying pair; the semantic arm's are the member→exemplar
    edges of its per-cell prune (the pairs SemDeDup actually acts
    on — recall trades down to within-cell-vs-exemplar, which is the
    entire point of the linear arm). The exact arm is O(n²/tiles)
    BLAS FLOPs by definition; the semantic arm is one corpus scan +
    one cell-keyed shuffle. Measured wall-clock crossover on this
    host sits in the 5k→10k gap (SCALING.md r15: exact 0.65 s vs
    0.85 s at 5k, 1.20 s vs 0.74 s at 10k, 16.0 s vs 1.45 s at 40k)
    and the default budget ``DEDUP_EMBEDDING_AUTO_MAX_VECTORS`` =
    8000 sits inside it, conservative toward full recall. The count
    is the only statistic, so the pick is data-deterministic and the
    SQL oracle replicates the decision AND the picked arm's rows;
    both explicit arms stay registered as manual overrides."""
    from rsbsa_etl_spark.params import DEDUP_EMBEDDING_AUTO_MAX_VECTORS

    budget = (
        DEDUP_EMBEDDING_AUTO_MAX_VECTORS
        if max_vectors is None
        else max_vectors
    )
    if emb.count() <= budget:
        return cosine_pairs(emb, threshold)
    sem = semantic_dedup(emb, threshold)
    return sem.where(~F.col("keep")).select(
        F.least("vec_id", "exemplar_id").alias("vec_a"),
        F.greatest("vec_id", "exemplar_id").alias("vec_b"),
        F.col("cos_exemplar").alias("cosine"),
    )


def ann_recall(
    emb: DataFrame,
    query_ids: Sequence[int] = ANN_QUERY_IDS,
    k: int = ANN_TOP_K,
) -> DataFrame:
    """recall@k of the approximate indexes against exact brute force —
    the evaluation harness every ANN deployment runs before trusting
    an index: per query, what fraction of the true top-k does each
    approximate method return.

    Deterministic end to end (both sides are deterministic rankings),
    so the metric itself is oracle-checkable — unusual for ANN evals
    and exactly why the deterministic index contract pays off.

    Plan shape: three index scans (exact / LSH / IVF) over the same
    corpus — each already scale-shaped — then joins and aggregation
    over query×k rows, which is negligible at any corpus size.
    """
    # ONE query-vector collect shared by all four index builds (r16
    # — the Arrow scoring kernels take the collected rows; without
    # threading, each build would run its own bounded collect job)
    qrows = (
        _collect_id_vecs(
            emb.where(F.col("vec_id").isin([int(q) for q in query_ids])),
            "vec_id",
            "embedding",
        )
        if _use_arrow_score()
        else None
    )
    # persisted AND eagerly materialized: the exact ranking feeds all
    # three hit joins plus the query base — lazily, branches within
    # one action can race the cache and rebuild the brute-force scan
    # up to 4× (r8 advisor); the count() makes single-build structural
    exact = (
        brute_force_topk(emb, query_ids, k, _qrows=qrows)
        .select("query_id", "neighbor_id")
        .persist()
    )
    exact.count()
    hits_lsh = (
        lsh_topk(emb, query_ids, k, _qrows=qrows)
        .select("query_id", "neighbor_id")
        .join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_lsh"))
    )
    hits_mp = (
        lsh_multiprobe_topk(emb, query_ids, k, _qrows=qrows)
        .select("query_id", "neighbor_id")
        .join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_mp"))
    )
    hits_ivf = (
        ivf_topk(emb, query_ids, k, _qrows=qrows)
        .select("query_id", "neighbor_id")
        .join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_ivf"))
    )
    base = exact.select("query_id").distinct()
    return (
        base.join(hits_lsh, "query_id", "left")
        .join(hits_mp, "query_id", "left")
        .join(hits_ivf, "query_id", "left")
        .select(
            "query_id",
            dec_round(
                F.coalesce(F.col("n_lsh"), F.lit(0)) / F.lit(float(k)), 4
            ).alias("recall_lsh"),
            dec_round(
                F.coalesce(F.col("n_mp"), F.lit(0)) / F.lit(float(k)), 4
            ).alias("recall_lsh_mp"),
            dec_round(
                F.coalesce(F.col("n_ivf"), F.lit(0)) / F.lit(float(k)), 4
            ).alias("recall_ivf"),
        )
    )


def ann_eval(
    emb: DataFrame,
    query_ids: Sequence[int] = ANN_QUERY_IDS,
    k: int = ANN_TOP_K,
) -> DataFrame:
    """combined ANN evaluation — recall@k AND MRR@k per index from
    ONE set of index scans. ``ann_recall`` and ``ann_mrr`` each
    rebuild the same four plans (exact + LSH + multiprobe + IVF);
    run together in a sweep that is 8 index builds for 2 metrics.
    Here each index plan is scanned ONCE and both metrics fold out
    of that scan structurally: two broadcast left-joins flag each
    returned neighbor as (in exact top-k, is exact top-1), then a
    single aggregate computes recall AND MRR — the r7 verdict's
    consolidation item, done without relying on caching for the
    index side at all. Only the EXACT ranking is persisted (it feeds
    all three flag joins), and it is eagerly materialized with one
    count() before the metric joins so the brute-force scan runs
    exactly once — lazily, two of its three consumers could race the
    cache within one action and rebuild the subtree (r8 advisor).
    The per-system numbers are bit-identical to the standalone keys'
    (same rankings, same fixed-point fold).

    Output: one row per index system —
    (system, n_queries, n_hit_k, recall_at_k, n_hit_top1, mrr).

    Scale: index scans are the already-scale-shaped ANN plans; the
    persisted exact ranking is query-set-sized (|Q|·k rows),
    constant in corpus size, so the cache cost never grows with the
    data. Sweep harnesses (bench.py, verify_key) clear the session
    cache per key, so the persist does not outlive its invocation.
    """
    qrows = (
        _collect_id_vecs(
            emb.where(F.col("vec_id").isin([int(q) for q in query_ids])),
            "vec_id",
            "embedding",
        )
        if _use_arrow_score()
        else None
    )
    exact = (
        brute_force_topk(emb, query_ids, k, _qrows=qrows)
        .select("query_id", "neighbor_id", "rank")
        .persist()
    )
    exact.count()  # eager: one brute-force build, race-free cache
    exact_pairs = exact.select(
        "query_id", "neighbor_id", F.lit(1).alias("_hk")
    )
    exact1 = exact.where(F.col("rank") == 1).select(
        "query_id", "neighbor_id", F.lit(1).alias("_h1")
    )
    nq = float(len(list(query_ids)))

    def one(df: DataFrame, name: str) -> DataFrame:
        # BOTH metrics from ONE scan of the index plan: two broadcast
        # left-joins flag each returned neighbor as (in exact top-k,
        # is exact top-1), then a single aggregate folds recall AND
        # MRR. (A first cut persisted the index top-k and aggregated
        # it twice — but two unmaterialized-cache branches inside one
        # action can both compute the subtree before either populates
        # the cache, so the index plans still built twice and the
        # consolidation won nothing; the flag form makes single
        # computation structural rather than cache-dependent.)
        idx = df.select("query_id", "neighbor_id", "rank")
        flagged = idx.join(
            F.broadcast(exact_pairs), ["query_id", "neighbor_id"], "left"
        ).join(F.broadcast(exact1), ["query_id", "neighbor_id"], "left")
        return flagged.agg(
            F.lit(name).alias("system"),
            F.lit(int(nq)).cast("long").alias("n_queries"),
            F.coalesce(F.sum("_hk"), F.lit(0))
            .cast("long")
            .alias("n_hit_k"),
            dec_round(
                F.coalesce(F.sum("_hk"), F.lit(0)) / F.lit(nq * float(k)), 4
            ).alias("recall_at_k"),
            F.coalesce(F.sum("_h1"), F.lit(0))
            .cast("long")
            .alias("n_hit_top1"),
            F.coalesce(
                dec_round(
                    fixed_sum(
                        F.when(F.col("_h1") == 1, F.lit(1.0) / F.col("rank")),
                        6,
                    )
                    / F.lit(nq),
                    6,
                ),
                F.lit(0.0),
            ).alias("mrr"),
        )

    return (
        one(lsh_topk(emb, query_ids, k, _qrows=qrows), "lsh")
        .unionByName(
            one(
                lsh_multiprobe_topk(emb, query_ids, k, _qrows=qrows),
                "lsh_mp",
            )
        )
        .unionByName(one(ivf_topk(emb, query_ids, k, _qrows=qrows), "ivf"))
    )


def cosine_pairs_bipartite(
    new: DataFrame,
    corpus: DataFrame,
    threshold: float = COSINE_THRESHOLD,
    n_tiles: int = 8,
) -> DataFrame:
    """bipartite exact cosine pairs: every (new, corpus) pair with
    cosine ≥ threshold — the INGEST form of ``cosine_pairs``, and
    the embedding twin of ``dedup.incremental_dedup_pairs``: a new
    batch is screened against the existing corpus without ever
    self-joining either side.

    Scale shape: the corpus is tiled once by ``vec_id mod n_tiles``
    (each corpus row shuffled exactly ONCE — work linear in the
    corpus); only the new batch is replicated n_tiles ways, which is
    the cheap side by definition at ingest time. One BLAS
    ``A @ B.T`` per tile group via ``applyInPandas``; per-task
    memory is one corpus tile + the new batch, so ``n_tiles`` sizes
    tasks to executor memory at any corpus size. Zero-norm vectors
    drop out (non-finite sims masked), matching the ``nrm > 0``
    oracle guard and safe_div semantics.
    """
    import numpy as np
    import pandas as pd

    t = F.pmod(F.col("vec_id"), F.lit(n_tiles)).cast("int")
    c = corpus.select(
        "vec_id", "embedding", t.alias("tb"), F.lit(False).alias("is_left")
    )
    nw = new.select(
        "vec_id",
        "embedding",
        F.explode(F.sequence(F.lit(0), F.lit(n_tiles - 1))).alias("tb"),
        F.lit(True).alias("is_left"),
    )

    stack, mm = _make_cosine_parts()
    max_elems = MAX_BLOCK_ELEMS

    def block(key, pdf):
        L = pdf[pdf["is_left"]]
        R = pdf[~pdf["is_left"]]
        if L.empty or R.empty:
            return pd.DataFrame(
                {
                    "new_id": np.array([], dtype=np.int64),
                    "corpus_id": np.array([], dtype=np.int64),
                    "cosine": np.array([], dtype=np.float64),
                }
            )
        A, na = stack(L["embedding"])
        B, nb = stack(R["embedding"])
        lids = L["vec_id"].to_numpy()
        rids = R["vec_id"].to_numpy()
        # same bounded chunk sweep as cosine_pairs: batch × tile can
        # exceed worker memory when both sides grow
        step = max(1, max_elems // max(len(rids), 1))
        outs = []
        for lo in range(0, len(lids), step):
            q = mm(A[lo : lo + step], na[lo : lo + step], B, nb)
            ia, ib = np.where(np.isfinite(q) & (q >= threshold))
            outs.append(
                pd.DataFrame(
                    {
                        "new_id": lids[lo : lo + step][ia],
                        "corpus_id": rids[ib],
                        "cosine": q[ia, ib],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    return (
        nw.unionByName(c)
        .groupBy("tb")
        .applyInPandas(block, "new_id bigint, corpus_id bigint, cosine double")
    )


def ann_mrr(
    emb: DataFrame,
    query_ids: Sequence[int] = ANN_QUERY_IDS,
    k: int = ANN_TOP_K,
) -> DataFrame:
    """MRR@k of the approximate indexes — the rank-position
    complement to ``ann_recall``'s set-overlap metric: per query,
    at which rank does each index surface the TRUE nearest
    neighbor (exact rank-1), scored as mean reciprocal rank over
    the query set (1/rank; 0 when the index misses it entirely).
    Recall@k says how much of the true neighborhood an index
    returns; MRR says whether the single most important neighbor
    is at the top — the metric that matters when only the first
    hit is consumed (retrieval-augmented pipelines).

    Deterministic end to end like ann_recall (both rankings are
    deterministic), so the metric is value-checked. Reciprocal
    ranks are exact IEEE divisions (rank ≤ k), summed in 1e-6
    fixed point, so query-accumulation order cannot drift the mean.

    Output: one row per index — (system, n_queries, n_hit, mrr).

    Plan: the exact scan feeds three probe joins (persisted — the
    ann_recall contract); each join is query-set-sized. Index scans
    are the already-scale-shaped ann plans.
    """
    qrows = (
        _collect_id_vecs(
            emb.where(F.col("vec_id").isin([int(q) for q in query_ids])),
            "vec_id",
            "embedding",
        )
        if _use_arrow_score()
        else None
    )
    top1 = (
        brute_force_topk(emb, query_ids, k, _qrows=qrows)
        .where(F.col("rank") == 1)
        .select("query_id", "neighbor_id")
        .persist()
    )
    top1.count()  # eager: one brute-force build (ann_recall contract)
    nq = float(len(list(query_ids)))

    def one(df: DataFrame, name: str) -> DataFrame:
        # top1 is |query_ids| rows by contract — broadcast it so the
        # probe never sorts the index list (static plan; AQE would
        # discover the same at runtime)
        hits = df.select("query_id", "neighbor_id", "rank").join(
            F.broadcast(top1), ["query_id", "neighbor_id"]
        )
        return hits.agg(
            F.lit(name).alias("system"),
            F.lit(int(nq)).cast("long").alias("n_queries"),
            F.count("*").cast("long").alias("n_hit"),
            dec_round(
                fixed_sum(F.lit(1.0) / F.col("rank"), 6) / F.lit(nq), 6
            ).alias("mrr"),
        )

    out = (
        one(lsh_topk(emb, query_ids, k, _qrows=qrows), "lsh")
        .unionByName(
            one(
                lsh_multiprobe_topk(emb, query_ids, k, _qrows=qrows),
                "lsh_mp",
            )
        )
        .unionByName(one(ivf_topk(emb, query_ids, k, _qrows=qrows), "ivf"))
    )
    return out.select(
        "system",
        "n_queries",
        "n_hit",
        F.coalesce(F.col("mrr"), F.lit(0.0)).alias("mrr"),
    )
