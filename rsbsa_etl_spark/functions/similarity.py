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

from collections.abc import Callable, Sequence

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


def _row_count(df: DataFrame) -> int:
    """``df.count()`` as ONE narrow job, for build-time sizing counts:
    ``count()`` plans a partial aggregate, an exchange and a final
    aggregate, which AQE runs as two jobs; counting the rows of the
    empty projection's RDD runs one job with no exchange."""
    return df.select()._jdf.queryExecution().toRdd().count()


def _cosine_rank(
    scored: DataFrame,
    k: int,
    part: str = "query_id",
    labels: Sequence[str] = (),
) -> DataFrame:
    """the ranking tail every cosine top-k operator shares: per
    ``part``, ``row_number`` over (cosine desc, neighbor_id asc) —
    NULL cosines last — keep ranks ≤ ``k``, then round the cosine to
    4 places. Output: (part, neighbor_id, *labels, cosine, rank)."""
    w = Window.partitionBy(part).orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            part,
            "neighbor_id",
            *labels,
            dec_round(F.col("cosine"), 4).alias("cosine"),
            F.col("rank").cast("int").alias("rank"),
        )
    )


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
    VALUE into applyInArrow closures (a module-level function
    referenced from a closure pickles by name and crashes Python
    workers whenever the driver runs outside the repo root — see the
    verify notes). Returns ``(stack, mm, table)``:

    - ``stack`` decodes one block side's ``list<float|double>`` Arrow
      column (an Array or a multi-chunk ChunkedArray) into a dense
      float64 matrix + norms with ONE ``flatten()`` + ``reshape``.
      Widening float32 to float64 is exact, so the matrix is
      bit-identical to a per-row ``np.asarray(v, dtype=float64)``
      decode; a NULL element decodes to NaN and is masked by the
      callers like a zero norm. A NULL or ragged vector raises
      ``ValueError``: ``flatten()`` skips NULL lists and ragged rows
      can still sum to n·d (63 + 65 = 2·64), so a plain reshape would
      silently misread both.
    - ``mm`` multiplies any (sub)matrix pair into the 1e-4-quantized
      cosine block — ONE implementation for cosine_pairs / knn_graph
      / cosine_pairs_bipartite / the IVF cells, so the quantization
      scale and the zero-norm (0/0 → NaN, masked by the callers)
      contract cannot drift between an operator and its oracle.
      Callers sweep the left side in row chunks against
      ``MAX_BLOCK_ELEMS`` to keep the q matrix bounded.
    - ``table`` concatenates the per-chunk output arrays into the
      block's ``pa.Table`` (``cosine`` double, every other column
      bigint), empty when no chunk ran. Each part holds one array per
      name; arrays past the last name (the kNN kernels' labels when
      ``diff_label`` is off) are dropped.
    """
    import numpy as np
    import pyarrow as pa

    def stack(col):
        if isinstance(col, pa.ChunkedArray):
            col = col.combine_chunks()
        if col.null_count:
            raise ValueError(
                f"cosine block: {col.null_count} NULL embedding vector(s);"
                " a NULL vector has no cosine"
            )
        lens = col.value_lengths().to_numpy()
        d = int(lens[0]) if len(lens) else 0
        if (lens != d).any():
            raise ValueError(
                "cosine block: ragged embedding vectors (lengths"
                f" {lens.min()}..{lens.max()}); every vector must have"
                " the same dimension"
            )
        flat = col.flatten().to_numpy(zero_copy_only=False)
        A = flat.astype(np.float64).reshape(len(col), d)
        return A, np.sqrt((A * A).sum(axis=1))

    def mm(A, na, B, nb):
        return np.floor((A @ B.T) / np.outer(na, nb) * 1e4 + 0.5) / 1e4

    def table(names, parts):
        cols = list(zip(*parts)) if parts else [()] * len(names)
        out = {}
        for name, chunks in zip(names, cols):
            dt = np.float64 if name == "cosine" else np.int64
            out[name] = np.concatenate([np.empty(0, dt), *chunks]).astype(
                dt, copy=False
            )
        return pa.table(out)

    return stack, mm, table


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
    every unordered tile pair (ta ≤ tb) becomes one ``applyInArrow``
    group holding exactly the two tiles as one Arrow table. The
    kernel decodes each side's vectors straight from the Arrow list
    column (``_make_cosine_parts``' ``stack``: one ``flatten()`` +
    ``reshape``, no pandas), runs the ``A @ B.T`` BLAS block in
    bounded row chunks (``MAX_BLOCK_ELEMS``) and returns only the
    above-threshold pairs as a ``pa.Table``. A NULL or ragged vector
    fails the block with ``ValueError``. Each row is replicated
    n_tiles+1 ways through a single shuffle — the O(n·√tasks)
    replication that distributed exact all-pairs costs. Per-task memory is two tiles
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

    stack, mm, table = _make_cosine_parts()
    max_elems = MAX_BLOCK_ELEMS

    def block(key, tbl):
        diagonal = key[0].as_py() == key[1].as_py()
        is_left = tbl.column("is_left").to_numpy()
        L = tbl.filter(is_left)
        R = tbl.filter(~is_left)
        parts = []
        if L.num_rows and R.num_rows:
            A, na = stack(L.column("embedding"))
            B, nb = stack(R.column("embedding"))
            all_la = L.column("vec_id").to_numpy()
            all_rb = R.column("vec_id").to_numpy()
            # chunked sweep: never materialize more than MAX_BLOCK_ELEMS
            # of the q matrix at once — at a fixed n_tiles the full
            # tile² block grows quadratically with the corpus and OOMs
            # workers
            step = max(1, max_elems // max(len(all_rb), 1))
            for lo in range(0, len(all_la), step):
                q = mm(A[lo : lo + step], na[lo : lo + step], B, nb)
                # NaN (zero-norm 0/0) fails the >= comparison and drops
                # out, same as safe_div's NULL under the threshold
                # predicate; isfinite makes that contract explicit.
                ia, ib = np.where(np.isfinite(q) & (q >= threshold))
                la = all_la[lo : lo + step][ia]
                rb = all_rb[ib]
                sims = q[ia, ib]
                if diagonal:
                    # diagonal tile: both roles hold the full tile, so
                    # each pair shows up in both orders — keep (a < b)
                    keep = la < rb
                    parts.append((la[keep], rb[keep], sims[keep]))
                else:
                    # off-diagonal: each unordered pair appears exactly
                    # once; normalize to (min, max) for the contract
                    parts.append(
                        (np.minimum(la, rb), np.maximum(la, rb), sims)
                    )
        return table(("vec_a", "vec_b", "cosine"), parts)

    return (
        left.unionByName(right)
        .groupBy("ta", "tb")
        .applyInArrow(block, "vec_a bigint, vec_b bigint, cosine double")
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

    stack, mm, table = _make_cosine_parts()
    max_elems = MAX_BLOCK_ELEMS
    names = ("vec_id", "neighbor_id", "cosine") + (
        ("label", "neighbor_label") if diff_label else ()
    )

    def block(key, tbl):
        diagonal = key[0].as_py() == key[1].as_py()
        is_left = tbl.column("is_left").to_numpy()
        L = tbl.filter(is_left)
        R = tbl.filter(~is_left)
        parts = []  # one (srcs, dsts, sims, slabs, dlabs) per top-k pass
        if not (L.num_rows and R.num_rows):
            return table(names, parts)
        A, na = stack(L.column("embedding"))
        B, nb = stack(R.column("embedding"))
        la = L.column("vec_id").to_numpy()
        rb = R.column("vec_id").to_numpy()
        if diff_label:
            la_lab = L.column("label").to_numpy()
            rb_lab = R.column("label").to_numpy()
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
            ord_d = np.argsort(dst_ids, kind="stable")
            sim_s = sim[:, ord_d]
            dst_s = dst_ids[ord_d]
            dlab_s = dst_lab[ord_d]
            bad = ~np.isfinite(sim_s) | (dst_s[None, :] == src_ids[:, None])
            if diff_label:
                bad |= dlab_s[None, :] == src_lab[:, None]
            key = np.where(bad, np.inf, -sim_s)
            kw = min(k, key.shape[1])
            ord2 = np.argsort(key, axis=1, kind="stable")[:, :kw]
            kk = np.take_along_axis(key, ord2, axis=1)
            valid = np.isfinite(kk)
            ri, ci = np.nonzero(valid)
            picked = ord2[ri, ci]
            parts.append(
                (
                    src_ids[ri],
                    dst_s[picked],
                    sim_s[ri, picked],
                    src_lab[ri],
                    dlab_s[picked],
                )
            )

        if len(la) * len(rb) <= max_elems:
            # small block: one matmul, transpose reused for the
            # reverse direction (the pre-round-9 fast path)
            q = mm(A, na, B, nb)
            topk_rows(q, la, rb, la_lab, rb_lab)
            # diagonal: L and R hold the same tile — one direction
            # already covers every source in the tile
            if not diagonal:
                topk_rows(q.T, rb, la, rb_lab, la_lab)
            return table(names, parts)

        # large block: sweep each direction in bounded row chunks —
        # at a fixed n_tiles the full tile² q matrix grows
        # quadratically with the corpus and OOMs workers (measured at
        # 200k vectors, round 9). Off-diagonal pays the reverse
        # matmul again instead of transposing; memory-bounded beats
        # 2× FLOPs exactly where blocks are too big to hold.
        def sweep(S, ns, sids, slab, T, nt, tids, tlab):
            step = max(1, max_elems // max(len(tids), 1))
            for lo in range(0, len(sids), step):
                qc = mm(S[lo : lo + step], ns[lo : lo + step], T, nt)
                topk_rows(
                    qc, sids[lo : lo + step], tids, slab[lo : lo + step], tlab
                )

        sweep(A, na, la, la_lab, B, nb, rb, rb_lab)
        if not diagonal:
            sweep(B, nb, rb, rb_lab, A, na, la, la_lab)
        return table(names, parts)

    schema = "vec_id bigint, neighbor_id bigint, cosine double" + (
        ", label bigint, neighbor_label bigint" if diff_label else ""
    )
    per_block = (
        left.unionByName(right).groupBy("ta", "tb").applyInArrow(block, schema)
    )
    return _cosine_rank(per_block, k, "vec_id", names[3:])


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
    if _row_count(emb) <= budget:
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
    picked = _assign_cells_arrow(
        e.where(F.col("vec_id") >= m).select("_vd", "_norm"),
        cents.select("cid", "vc"),
        "_vd",
    )
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
    assignment kernel the IVF build runs — then compare the MEAN
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
    broadcast centroid matrix scores every centroid per vector in the
    assignment kernel (``_assign_cells_arrow`` with ``nprobe``), so
    BOTH the cell assignment and the probe list come out of the same
    scan with ZERO shuffle: the sorted probe array's position 0 IS
    the argmin member cell, so one ``posexplode`` to n·nprobe rows
    carries each vector into its probed cells with an ``is_member``
    flag (pos==0) — no corpus×ncents rank window, no
    embedding-payload shuffle, no member/prober union (the r8
    advisor flagged the windowed form as re-introducing the exact
    shuffle the argmin avoids).
    Candidates then meet in ONE cid-keyed shuffle into per-cell
    BLAS blocks (``applyInArrow``: each cell arrives as one Arrow
    table whose vectors ``stack`` decodes with one ``flatten()``;
    block-local top-k — the lossless-cut argument of ``knn_graph``:
    every member belongs to
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

    if n_centroids is None:
        n_centroids = max(16, int(math.floor(math.sqrt(_row_count(emb)))))
    is_cent = F.col("vec_id") < n_centroids

    # ONE pass scores the top-nprobe cell ids per vector (pos==0 is
    # the argmin member cell, (d2, cid) order), posexploded to
    # n·nprobe rows. Members and probers ride the same rows via the
    # is_member flag: zero pre-shuffle, one scan, no union. The
    # kernel widens the stored vectors itself (float32 → float64 is
    # exact), so the centroids need no ``_vd`` column.
    lab_cols = ["label"] if diff_label else []
    cents = emb.where(is_cent).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("vc")
    )
    exploded = _assign_cells_arrow(
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
    ).select(
        "vec_id",
        "embedding",
        *lab_cols,
        "cid",
        (F.col("pos") == 0).alias("is_member"),
    )

    stack, mm, table = _make_cosine_parts()
    max_elems = MAX_BLOCK_ELEMS
    names = ("vec_id", "neighbor_id", "cosine") + (
        ("label", "neighbor_label") if diff_label else ()
    )

    def block(tbl):
        member = tbl.column("is_member").to_numpy()
        parts = []  # one (srcs, dsts, sims, slabs, dlabs) per chunk
        if not member.any():
            return table(names, parts)
        # every row probes this cell (members probe their own)
        emb_col = tbl.column("embedding")
        A, na = stack(emb_col)
        B, nb = stack(emb_col.filter(member))
        src_all = tbl.column("vec_id").to_numpy()
        dst = src_all[member]
        if diff_label:
            slab_all = tbl.column("label").to_numpy()
        else:
            slab_all = np.zeros(len(src_all), dtype=np.int64)
        dlab = slab_all[member]
        # columns pre-sorted by neighbor id so the stable row-wise
        # argsort's ties resolve dst-ascending — the (cosine desc,
        # neighbor asc) order the old per-row np.lexsort used
        ord_d = np.argsort(dst, kind="stable")
        dst_s = dst[ord_d]
        dlab_s = dlab[ord_d]
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
            slab = slab_all[lo : lo + step]
            bad = ~np.isfinite(q) | (dst_s[None, :] == src[:, None])
            if diff_label:
                bad |= dlab_s[None, :] == slab[:, None]
            key = np.where(bad, np.inf, -q)
            kw = min(k, key.shape[1])
            ord2 = np.argsort(key, axis=1, kind="stable")[:, :kw]
            kk = np.take_along_axis(key, ord2, axis=1)
            ri, ci = np.nonzero(np.isfinite(kk))
            picked = ord2[ri, ci]
            parts.append(
                (src[ri], dst_s[picked], q[ri, picked], slab[ri], dlab_s[picked])
            )
        return table(names, parts)

    schema = "vec_id bigint, neighbor_id bigint, cosine double" + (
        ", label bigint, neighbor_label bigint" if diff_label else ""
    )
    per_cell = exploded.groupBy("cid").applyInArrow(block, schema)
    return _cosine_rank(per_cell, k, "vec_id", names[3:])


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

    The scoring stage is the Arrow batch kernel
    (``_topk_scores_arrow`` — the dot/norm fold arithmetic of the
    DuckDB oracle, batch-local top-k cut, guide §4.2); only the
    per-query ranking window stays in-plan. ``_qrows`` lets composed
    harnesses (ann_eval/ann_recall/ann_mrr) collect the query vectors
    once and share them across the four index builds.
    """
    qrows = _query_rows(emb, query_ids) if _qrows is None else _qrows
    scored = _topk_scores_arrow(
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        qrows,
        "embedding",
        "neighbor_id",
        k,
    )
    return _cosine_rank(scored, k)


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

    Plan shape: ONE Arrow batch kernel (``_topk_scores_arrow``) does
    the corpus cell assignment, the probed-cell candidate
    restriction, the cosine scoring and the batch-local top-k; the
    centroid and query tables are collected (both index-sized) and
    the probe sets computed on the driver (``_py_nearest_cells``).
    Every distance is the sequential fold of DuckDB's ``list_sum``,
    in the same order, so cells, probes and ranks match the oracle
    bit for bit. The corpus is scanned once, with no shuffle before
    the per-query ranking window.
    """
    qrows = _query_rows(emb, query_ids) if _qrows is None else _qrows
    crows = _collect_id_vecs(
        emb.where(F.col("vec_id") < n_centroids), "vec_id", "embedding"
    )
    scored = _topk_scores_arrow(
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        qrows,
        "embedding",
        "neighbor_id",
        k,
        probe=lambda v: _py_nearest_cells(v, crows, nprobe),
        cents_rows=crows,
    )
    return _cosine_rank(scored, k)


def lsh_topk(
    emb: DataFrame,
    query_ids: Sequence[int] = ANN_QUERY_IDS,
    k: int = ANN_TOP_K,
    _qrows: list | None = None,
) -> DataFrame:
    """approximate top-k: candidates restricted to the query's
    sign-LSH bucket (``_py_sign_bucket``), then exact cosine rank
    within the bucket.

    The cross join of brute force becomes a bucket restriction: at
    1000× corpus size each query still only meets ~1/2^dims of the
    corpus, and the bucket can back a partition layout so each query
    touches a bounded slice.

    This is ``lsh_multiprobe_topk`` at Hamming radius 0: the bucket
    computation AND the in-bucket scoring run inside the Arrow batch
    kernel (``_topk_scores_arrow`` with the sign-mixing matrix in its
    broadcast — bucket bits and cosines bit-identical to the DuckDB
    oracle's, batch-local top-k).
    """
    return lsh_multiprobe_topk(
        emb, query_ids, k, LSH_SIGN_DIMS, max_hamming=0, _qrows=_qrows
    )


def _fold_l2sq(a, b) -> float:
    """driver-side l2² fold: acc += (x−y)² in index order from 0.0 —
    each op a correctly-rounded IEEE double, the exact sequence of
    the kernels' per-dimension accumulation and DuckDB's list_sum."""
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


def _query_rows(emb: DataFrame, query_ids: Sequence[int]) -> list:
    """the collected (vec_id, vector) query set of the ANN operators."""
    return _collect_id_vecs(
        emb.where(F.col("vec_id").isin([int(q) for q in query_ids])),
        "vec_id",
        "embedding",
    )


def _uniform_dim(vec_rows: list, table: str) -> int | None:
    """the one vector dimensionality of a collected (id, vec) side
    table, or None when the table is empty. A NULL or ragged vector
    raises ``ValueError`` naming ``table`` and the cause — the rule
    the cosine block kernels' ``stack`` applies: a side-table vector
    is a query, centroid or codeword, and a NULL or mis-sized one has
    no defined score."""
    nulls = [i for i, v in vec_rows if v is None]
    if nulls:
        raise ValueError(
            f"{table} table: {len(nulls)} NULL embedding vector(s)"
            f" (ids {nulls[:5]}); a NULL vector has no score"
        )
    dims = {len(v) for _, v in vec_rows}
    if len(dims) > 1:
        raise ValueError(
            f"{table} table: ragged embedding vectors (lengths"
            f" {min(dims)}..{max(dims)}); every vector must have the"
            " same dimension"
        )
    return dims.pop() if dims else None


def _require_dim(d: int, need: int, table: str, what: str) -> None:
    """raise ``ValueError`` when a side table's vectors are shorter
    than the ``need`` leading dimensions ``what`` reads."""
    if d < need:
        raise ValueError(
            f"{table} table: embedding vectors of dimension {d} are too"
            f" short for {what} ({need} dimensions)"
        )


def _make_floor_long():
    """factory for ``_floor_long``: a factory-made function pickles
    BY VALUE into the kernels' closures (a module-level def would
    pickle by name — see ``_make_cosine_parts``)."""
    import numpy as np

    lmax = np.iinfo(np.int64).max
    lmin = np.iinfo(np.int64).min

    def floor_long(v):
        # Spark's FLOOR(double) → LONG: floor, then Java's (long)
        # cast — NaN → 0, and ±inf or anything past ±2^63 saturates
        # to Long.MAX/MIN
        v = np.asarray(v, dtype=np.float64)
        out = np.zeros(v.shape, dtype=np.int64)
        big = v >= 9.223372036854776e18
        small = v <= -9.223372036854776e18
        mid = np.isfinite(v) & ~big & ~small
        out[mid] = np.floor(v[mid]).astype(np.int64)
        out[big] = lmax
        out[small] = lmin
        return out

    return floor_long


#: the one Spark floor→long cast of the kernels' fixed-point scores
#: and distances (``dec_round``/``fixed_sum`` quantize through it):
#: elementwise over a float array or scalar, int64 out
_floor_long = _make_floor_long()


def _py_sign_bucket(vec, dims: int) -> int:
    """sign-LSH bucket id with a deterministic Hadamard rotation: bit
    i = (Σ_j h[i+1][j]·v[j] > 0) over the leading ``LSH_MIX_WIDTH``
    dims, h = ±1 Sylvester–Hadamard rows (DC row skipped), the sum
    folded left to right from 0.0 in IEEE doubles, and Spark's
    NaN > 0 = true.

    The earlier axis-aligned form (bit i = sign(v[i])) measured
    0.0–0.5 recall on this corpus because its cluster structure
    lives in the leading dimensions, making axis signs nearly
    constant within clusters. The mixed projections are mutually
    orthogonal pseudo-random hyperplanes — the standard
    random-hyperplane LSH guarantee (P[bit agrees] = 1 − θ/π)
    applies — while staying deterministic and SQL-portable: the
    oracle emits the identical left-associative double-arithmetic
    chain, and the scoring kernel's corpus-side mixing fold the same
    per-dimension sequence, so bucket ids are bit-equal across all
    three. ``vec`` is a validated query vector (``_uniform_dim``),
    at least ``LSH_MIX_WIDTH`` long."""
    import math

    from rsbsa_etl_spark.params import LSH_MIX_WIDTH, hadamard_sign

    b = 0
    for i in range(dims):
        acc = 0.0
        for j in range(LSH_MIX_WIDTH):
            acc = acc + vec[j] * float(hadamard_sign(i + 1, j))
        if acc > 0 or math.isnan(acc):
            b |= 1 << i
    return b


def _py_nearest_cells(qvec, cents_rows: list, nprobe: int) -> list:
    """a query's top-``nprobe`` cell ids by (d2 asc, cid asc), d2 =
    the exact sequential l2² fold, NaN ranked last (Spark and DuckDB
    sort NaN above every double) — the one probe rule of
    ``ivf_topk``, ``ivfpq_topk`` and the persisted index's
    ``query_ivf_index``."""
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
    probe: Callable[[list], list] | None = None,
    cents_rows: list | None = None,
    lsh_bits: int | None = None,
) -> DataFrame:
    """batch-local cosine top-k against a collected query set — the
    ``mapInArrow`` NumPy scoring stage shared by ``brute_force_topk``
    / ``lsh_topk`` / ``lsh_multiprobe_topk`` / ``ivf_topk`` /
    ``_mmr_pool`` / ``_hybrid_parts`` (guide §4.2). Emits, per Arrow
    batch and per query, the top-``k`` scored candidate rows plus
    (unless ``drop_null``) the first ``k`` NULL-score rows — a
    LOSSLESS cut: the downstream ranking window's total order is
    (score desc, id asc) with NULLs last, and a per-query global
    top-k is a subset of the union of batch-local top-k under the
    same order.

    BIT-IDENTICAL to the DuckDB oracles' arithmetic by construction
    (the ``_assign_cells_arrow`` contract extended to scores):

    - dot and sumsq accumulate per dimension in ascending index
      order from 0.0 (NumPy in-place add over the row axis) — the
      exact IEEE sequence of ``list_sum``;
    - the emitted score replicates ``dec_round``/1e-6 fixed-point
      exactly INCLUDING Spark's floor(double)→LONG cast
      (``_floor_long``: NaN→0, ±inf→±Long.MAX/MIN);
    - ``safe_div``: a zero denominator emits a NULL score (the row
      is kept and ranks last), never a NaN;
    - candidate restriction: with ``cents_rows`` a corpus row is a
      candidate when its argmin cell — first-win (d2, cid),
      NaN→+inf — is among the query's ``probe(vec)`` cells (IVF);
      with ``lsh_bits`` when its sign-LSH bucket (the per-dimension
      mixing fold, Spark's NaN>0=true included) is among the
      query's ``probe(vec)`` buckets; with neither, every row but
      the query itself (brute force).

    Side tables: the query and centroid tables must be uniform and
    non-NULL (``_uniform_dim`` raises ``ValueError`` naming the
    table), and LSH needs ``LSH_MIX_WIDTH`` dimensions. An empty
    query or centroid table returns an empty frame of the output
    schema. Corpus rows whose vector is NULL or of another
    dimensionality score NULL (brute/LSH) or drop (IVF: no cell),
    as in the oracles.

    The collected matrices ship as ONE Spark broadcast variable
    (r15 verdict item 4) — per-executor, not per-task-closure.
    """
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as T

    from rsbsa_etl_spark.params import LSH_MIX_WIDTH, hadamard_sign

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

    d = _uniform_dim(qrows, "query")
    cd = None if cents_rows is None else _uniform_dim(cents_rows, "centroid")
    if d is not None and cd is not None and cd != d:
        raise ValueError(
            f"centroid table: ragged embedding vectors (dimension {cd},"
            f" query table {d}); every vector must have the same dimension"
        )
    if lsh_bits is not None and d is not None:
        _require_dim(d, LSH_MIX_WIDTH, "query", "the sign-LSH mixing")
    if d is None or (cents_rows is not None and cd is None):
        return src.sparkSession.createDataFrame([], out_schema)

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
        cid_arr = np.asarray([c[0] for c in cents_rows], dtype=np.int64)
        cmat = np.asarray([c[1] for c in cents_rows], dtype=np.float64)

    S = None
    if lsh_bits is not None:
        S = np.asarray(
            [
                [float(hadamard_sign(i + 1, j)) for j in range(LSH_MIX_WIDTH)]
                for i in range(lsh_bits)
            ],
            dtype=np.float64,
        )

    probes_np = (
        None
        if probe is None
        else [np.asarray(sorted(probe(v)), dtype=np.int64) for _, v in qrows]
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

    kk = int(k)
    want_vec = keep_vec
    emit_null = not drop_null
    excl = exclude_self
    vname, iname, oname = vec_col, id_col, out_col
    as_long = fixed_long
    qscale = float(10**scale)
    LMIN = np.iinfo(np.int64).min

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
            if n == 0:
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
                # ragged rows: bucket from the available prefix; a
                # row shorter than the mixing width reads NULL
                # elements, so every bit is 0 (the oracle's CASE)
                key_all = np.zeros(n, dtype=np.int64)
                key_all[okidx] = buck_ok
                ragged = np.nonzero(id_ok & vva & (lens != d))[0]
                if len(ragged):
                    starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
                    for ri in ragged:
                        L = int(lens[ri])
                        if L < width:
                            continue  # bucket 0
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
    kernel — the one assignment path of the IVF family (optimization
    guide §4.2: hand whole batches to native code instead of
    evaluating a nested higher-order-function tree, which runs
    OUTSIDE whole-stage codegen, per interpreted expression node, per
    row × per centroid × per dimension). Measured r15 at sf0.1: 2–20×
    per assignment stage over that fold (OPTIMIZATION_r15.md),
    growing with the centroid count; the plan is a narrow map — zero
    shuffle.

    BIT-IDENTICAL decision arithmetic by construction:

    - d2 accumulates per dimension in ascending index order
      (``acc = acc + (x_i − c_i)²`` from a 0.0 start — NumPy in-place
      add over the row axis) — the exact left-to-right IEEE double
      sequence of the DuckDB oracle's ``list_sum``;
    - only INTEGER ids leave the kernel (the argmin / top-``nprobe``
      cell ids); no kernel-computed float crosses the boundary, so
      there is no transport-precision question (Arrow passthrough of
      kept float columns is bit-exact regardless);
    - ties and NaN follow the oracle's (d2, cid) order: centroids are
      scanned in cid-ascending order with first-win comparisons
      (``np.argmin`` / stable ``np.argsort``), and NaN d2 is
      substituted with +inf before ranking (an all-NaN row degrades
      to the lowest cid).  One corner NARROWS the bit-identity claim
      to finite/non-overflowing inputs (r15 advice): SQL orders +inf
      strictly BELOW NaN, so a row whose d2s contain both a genuine
      +inf (overflowed squares, |x| ≳ 1e154) and a NaN ties them here
      and first-win may pick the NaN centroid the oracle ranks last.
      Unreachable on any fixture/generator (finite, unit-scale
      vectors); kept out of the hot argmin on purpose.

    ``cents`` is the (cid, vc) table, collected here — index-sized
    (≤ thousands of rows) — and shipped as one broadcast. A NULL or
    ragged centroid vector raises ``ValueError`` (``_uniform_dim``).
    ``src`` must already be projected to exactly the columns the
    caller wants out (plus ``vec_col``) — §4.1 column discipline:
    everything passed crosses the boundary. The output appends
    ``out_col`` (long cid, or array<long> of the top-``nprobe``
    cells when ``nprobe`` is set).

    Rows whose vector is NULL or whose length differs from the
    centroid dim — and every row when the centroid table is empty —
    get a NULL assignment, which the callers' cid joins drop. (The
    fixtures and both generators are uniform-dim with non-null
    vectors; this branch exists so malformed rows degrade to a
    droppable NULL instead of crashing the kernel.)
    """
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as T

    rows = _collect_id_vecs(cents, "cid", "vc")
    d_cent = _uniform_dim(rows, "centroid") or 0
    cid_arr = np.asarray([t[0] for t in rows], dtype=np.int64)
    cmat = np.asarray([t[1] for t in rows], dtype=np.float64)
    n_cents = len(rows)
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
    ``_py_sign_bucket`` brings the measured recall to that theoretical
    curve (the old axis-aligned form sat below it at 0.0-0.1 single
    bucket), and radius (default ``LSH_PROBE_HAMMING`` = 2) buys the
    rest. A geometry like this is IVF's home turf — the eval shows
    recall_ivf ≈ 1.0 — which is exactly the decision the
    oracle-checked eval exists to surface.

    Plan shape: the buckets AND the in-bucket scoring run in the
    Arrow batch kernel (``_topk_scores_arrow`` with ``lsh_bits``):
    each query's probe set is its own bucket XOR every mask of
    Hamming weight ≤ h, carried in the kernel broadcast — the corpus
    is scanned once and never shuffles before the ranking window.
    Each corpus row has one bucket and probe buckets are distinct, so
    no pair dedup is needed.
    """
    from itertools import combinations

    from rsbsa_etl_spark.params import LSH_PROBE_HAMMING

    h = LSH_PROBE_HAMMING if max_hamming is None else max_hamming
    masks = [0] + [
        sum(1 << i for i in bits)
        for r in range(1, h + 1)
        for bits in combinations(range(dims), r)
    ]
    qrows = _query_rows(emb, query_ids) if _qrows is None else _qrows
    scored = _topk_scores_arrow(
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        qrows,
        "embedding",
        "neighbor_id",
        k,
        probe=lambda v: [_py_sign_bucket(v, dims) ^ m for m in masks],
        lsh_bits=dims,
    )
    return _cosine_rank(scored, k)


def ivf_assignments(
    emb: DataFrame, n_centroids: int = IVF_CENTROIDS
) -> DataFrame:
    """Voronoi cell assignment against the deterministic iteration-0
    centroids (first ``n_centroids`` vectors by vec_id) — the E-step
    of Lloyd's algorithm behind the ``ivf_train*`` keys.

    Returns the input rows plus their ``cid``. Centroids are
    index-sized; the argmin runs in the Arrow assignment kernel
    (``_assign_cells_arrow``), so the corpus is read once with no
    shuffle before the caller's next agg.
    """
    cents = emb.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("vc")
    )
    return assign_to_centroids(emb, cents)


def assign_to_centroids(emb: DataFrame, cvec: DataFrame) -> DataFrame:
    """Voronoi assignment against an arbitrary centroid table
    (cid, vc) — the E-step against *trained* centroids, vs
    ``ivf_assignments``'s iteration-0 seed. Same plan: the Arrow
    assignment kernel, no shuffle.
    """
    return _assign_cells_arrow(
        emb.select("vec_id", "embedding"), cvec, "embedding"
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
) -> DataFrame:
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
    broadcast. A NULL, ragged or shorter-than-``m·sub`` seed vector
    raises ``ValueError`` naming the seed table; an empty seed table
    returns an empty frame of the output schema. Corpus rows whose
    vector is NULL or shorter than a subspace's span get NULL for
    that code (the oracle's NULL-slice semantics); recon_err sums the
    valid subspaces only (SQL SUM skips NULLs) and is NULL when none
    are valid.
    """
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as T

    fields = [T.StructField("vec_id", T.LongType(), True)]
    fields += [
        T.StructField(f"code{j}", T.LongType(), True) for j in range(m)
    ]
    fields.append(T.StructField("recon_err", T.DoubleType(), True))
    out_schema = T.StructType(fields)

    d = _uniform_dim(seeds_rows, "PQ seed")
    if d is None:
        return src.sparkSession.createDataFrame([], out_schema)
    _require_dim(d, m * sub, "PQ seed", f"{m} subspaces of {sub}")
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

    Plan shape: codebooks derive from a collected self-scan
    (vec_id < k, O(k·m)) and BROADCAST; ONE batch kernel
    (``_pq_codes_arrow``) emits each vector's ``m`` codes and its
    quantized error from a single narrow pass — no explode into
    per-sub rows, no regroup — and the only exchange is the output
    ordering.

    Determinism: distances are double folds in fixed element order;
    the error re-quantizes each subspace distance to a long before
    summing (order-independent); ties in the argmin break on
    codeword id."""
    seeds_rows = _collect_id_vecs(
        emb.where(F.col("vec_id") < k), "vec_id", "embedding"
    )
    return _pq_codes_arrow(
        emb.select("vec_id", "embedding"), seeds_rows, m, dims // m
    ).orderBy("vec_id")


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
) -> DataFrame:
    """the whole IVF-PQ candidate + ADC pipeline as ONE batch kernel
    (r16, guide §2.4/§4.2): cell assignment, per-sub code
    assignment, probed-cell candidate restriction, and the ADC
    fixed-point fold — no exploded-codes shuffle join
    (cand ⋈ codes ⋈ dtab → groupBy); the ranking window receives
    batch-local top-k rows only.

    Driver-side: probe sets via ``_py_nearest_cells``; the
    per-(query, sub, codeword) distance table is pre-quantized with
    Spark's floor→long cast (``_floor_long``), so the kernel's ADC is
    a pure int64 gather-sum — exactly the oracle's
    ``fixed_sum(qd2, 6)`` over the joined rows.

    Side tables: ``side_rows`` (the first max(n_centroids,
    codewords) vectors: centroid and codeword seeds) and ``qrows``
    must be uniform, non-NULL, of one dimension and at least
    ``m·sub`` long, else ``ValueError`` names the table; an empty
    query, centroid or seed table returns an empty frame of the
    output schema. Corpus rows of deviant dimensionality drop (no
    cell), as in the oracle."""
    import numpy as np
    import pyarrow as pa

    from pyspark.sql import types as T

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType(), False),
            T.StructField("neighbor_id", T.LongType(), True),
            T.StructField("approx_d2", T.DoubleType(), True),
        ]
    )
    d = _uniform_dim(qrows, "query")
    sd = _uniform_dim(side_rows, "centroid/codeword seed")
    if d is not None and sd is not None and sd != d:
        raise ValueError(
            f"centroid/codeword seed table: ragged embedding vectors"
            f" (dimension {sd}, query table {d}); every vector must have"
            " the same dimension"
        )
    for table, dim in (("query", d), ("centroid/codeword seed", sd)):
        if dim is not None:
            _require_dim(dim, m * sub, table, f"{m} subspaces of {sub}")
    cents_rows = [(i, v) for i, v in side_rows if i < n_centroids]
    seed_rows = [(i, v) for i, v in side_rows if i < codewords]
    if not (qrows and cents_rows and seed_rows):
        return src.sparkSession.createDataFrame([], out_schema)
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

    # pre-quantized ADC table: (query, sub, codeword-position) int64
    qd2 = np.asarray(
        [
            [
                [_fold_l2sq(qv[j * sub : (j + 1) * sub], cw) for cw in books[j]]
                for j in range(m)
            ]
            for _, qv in qrows
        ],
        dtype=np.float64,
    )
    qd2q = _floor_long(qd2 * 1e6 + 0.5)

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
    (subspace × codeword) distance table are all tiny collected
    tables → broadcast; ONE batch kernel (``_ivfpq_scores_arrow``)
    does the corpus cell assignment, the code assignment, the
    probed-candidate restriction and the ADC fold of m quantized
    longs per candidate in a single narrow pass — order-independent,
    oracle-exact; only the per-query ranking window stays in-plan.

    Determinism: both seed sets follow the iteration-0 convention
    (first n vectors by vec_id); every distance is a sequential
    double fold matching DuckDB ``list_sum``; ADC re-quantizes each
    subspace distance to a long before summing; all ranks tie-break
    on id."""
    side_rows = _collect_id_vecs(
        emb.where(F.col("vec_id") < max(n_centroids, codewords)),
        "vec_id",
        "embedding",
    )
    scored = _ivfpq_scores_arrow(
        emb.select(F.col("vec_id").alias("neighbor_id"), "embedding"),
        side_rows,
        _query_rows(emb, query_ids),
        n_centroids,
        codewords,
        nprobe,
        m,
        dims // m,
        k,
    )
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
      per-row argmin over the broadcast centroid matrix;
    - exemplar per cell = highest cosine to the centroid, vec_id
      tiebreak;
    - every other member is a duplicate iff cosine(member, exemplar)
      ≥ threshold. Exemplars are always kept.

    Plan shape at 100 TB: centroids broadcast (tiny); cell assignment
    is a shuffle-free argmin kernel on one narrow scan; exemplar choice
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
    # cell assignment: shuffle-free in the Arrow kernel; the chosen
    # cell's centroid vector comes back via a broadcast hash join
    picked = _assign_cells_arrow(
        e.select("vec_id", "_vd", "_norm"), cents.select("cid", "vc"), "_vd"
    )
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
    if _row_count(emb) <= budget:
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
    # — the scoring kernels take the collected rows; without
    # threading, each build would run its own bounded collect job)
    qrows = _query_rows(emb, query_ids)
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
    qrows = _query_rows(emb, query_ids)
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
    ``A @ B.T`` per tile group via ``applyInArrow`` (vectors decoded
    from the group's Arrow table by ``stack``; NULL or ragged vectors
    raise ``ValueError``); per-task memory is one corpus tile + the
    new batch, so ``n_tiles`` sizes tasks to executor memory at any
    corpus size. Zero-norm vectors
    drop out (non-finite sims masked), matching the ``nrm > 0``
    oracle guard and safe_div semantics.
    """
    import numpy as np

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

    stack, mm, table = _make_cosine_parts()
    max_elems = MAX_BLOCK_ELEMS

    def block(tbl):
        is_left = tbl.column("is_left").to_numpy()
        L = tbl.filter(is_left)
        R = tbl.filter(~is_left)
        parts = []
        if L.num_rows and R.num_rows:
            A, na = stack(L.column("embedding"))
            B, nb = stack(R.column("embedding"))
            lids = L.column("vec_id").to_numpy()
            rids = R.column("vec_id").to_numpy()
            # same bounded chunk sweep as cosine_pairs: batch × tile can
            # exceed worker memory when both sides grow
            step = max(1, max_elems // max(len(rids), 1))
            for lo in range(0, len(lids), step):
                q = mm(A[lo : lo + step], na[lo : lo + step], B, nb)
                ia, ib = np.where(np.isfinite(q) & (q >= threshold))
                parts.append((lids[lo : lo + step][ia], rids[ib], q[ia, ib]))
        return table(("new_id", "corpus_id", "cosine"), parts)

    return (
        nw.unionByName(c)
        .groupBy("tb")
        .applyInArrow(block, "new_id bigint, corpus_id bigint, cosine double")
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
    qrows = _query_rows(emb, query_ids)
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
