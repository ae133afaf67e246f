"""The Arrow cosine kernels' decode, degenerate-input rule and
fixed-point cast.

- ``_make_cosine_parts``' ``stack`` turns the ``list<float|double>``
  Arrow columns a group actually arrives as (multi-chunk, sliced with
  a nonzero offset) into the same float64 matrix the per-row decode
  built, bit for bit;
- NULL and ragged vectors fail the block with a ``ValueError`` naming
  the cause, where a plain ``reshape`` would silently misread them,
  while a NULL *element* still scores NaN and drops out;
- ``_row_count`` sizes the auto and IVF arms with one narrow job;
- the ANN scoring kernels apply the same rule to their collected
  side tables (query, centroid, codeword seed): an empty table gives
  an empty frame of the operator's schema, a NULL, ragged or too
  short vector a ``ValueError`` naming the table and the cause;
- ``_floor_long`` is Spark's floor→long cast.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F, types as T

from rsbsa_etl_spark.functions import retrieval as R, similarity as S
from rsbsa_etl_spark.sources.fixtures import load

from tests.conftest import SF_DIR


def _vectors(value_type, n=7, d=5):
    rng = np.random.default_rng(3)
    rows = rng.standard_normal((n, d)).astype(value_type.to_pandas_dtype())
    return pa.array(list(rows), type=pa.list_(value_type))


def _arrow_inputs():
    for value_type in (pa.float32(), pa.float64()):
        arr = _vectors(value_type)
        name = str(value_type)
        yield f"{name}-array", arr
        yield f"{name}-sliced", arr.slice(2, 4)
        yield f"{name}-chunked", pa.chunked_array([arr.slice(0, 3), arr.slice(3)])
        yield f"{name}-chunked-sliced", pa.chunked_array(
            [arr.slice(1, 2), arr.slice(4, 3)]
        )


@pytest.mark.parametrize(
    "col", [c for _, c in _arrow_inputs()], ids=[n for n, _ in _arrow_inputs()]
)
def test_stack_is_bit_identical_to_per_row_decode(col):
    stack, _mm, _table = S._make_cosine_parts()
    A, na = stack(col)
    # the decode the pandas kernels ran on each group's Series
    ref = np.stack([np.asarray(v, dtype=np.float64) for v in col.to_pandas()])
    assert A.dtype == np.float64 and A.shape == ref.shape
    assert A.tobytes() == ref.tobytes()
    assert na.tobytes() == np.sqrt((ref * ref).sum(axis=1)).tobytes()


def test_stack_rejects_null_and_ragged_vectors():
    stack, _mm, _table = S._make_cosine_parts()
    f32 = pa.list_(pa.float32())
    with pytest.raises(ValueError, match="NULL embedding"):
        stack(pa.array([[1.0, 2.0], None, [3.0, 4.0]], type=f32))
    # 63 + 65 = 2·64: a plain reshape would read two wrong 64-d rows
    ragged = pa.array([[1.0] * 63, [1.0] * 65], type=f32)
    with pytest.raises(ValueError, match="ragged"):
        stack(ragged)
    with pytest.raises(ValueError, match="ragged"):
        stack(pa.chunked_array([ragged.slice(0, 1), ragged.slice(1)]))


_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType(), True)),
    ]
)


@pytest.mark.parametrize(
    "rows, cause",
    [
        ([(1, [1.0, 0.0]), (2, None), (3, [1.0, 1.0])], "NULL embedding"),
        ([(1, [1.0] * 63), (2, [1.0] * 65)], "ragged"),
    ],
    ids=["null-vector", "ragged-63-65"],
)
def test_block_kernels_reject_null_and_ragged_vectors(spark, rows, cause):
    # one tile, so both vectors meet in the same block side
    emb = spark.createDataFrame(rows, _SCHEMA)
    with pytest.raises(PythonException, match=cause):
        S.cosine_pairs(emb, threshold=-1.0, n_tiles=1).collect()
    with pytest.raises(PythonException, match=cause):
        S.knn_graph(emb, k=3, n_tiles=1).collect()


def test_block_kernels_mask_a_null_element(spark):
    # a NULL element decodes to NaN: every cosine against that vector
    # is NaN and drops out, as a zero norm does
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [None, 1.0]),
            (3, [1.0, 1.0]),
            (4, [0.0, 1.0]),
        ],
        _SCHEMA,
    )
    pairs = S.cosine_pairs(emb, threshold=-1.0, n_tiles=1).collect()
    assert {(r.vec_a, r.vec_b, r.cosine) for r in pairs} == {
        (1, 3, 0.7071),
        (1, 4, 0.0),
        (3, 4, 0.7071),
    }
    graph = S.knn_graph(emb, k=3, n_tiles=1).collect()
    assert {(r.vec_id, r.neighbor_id, r.rank) for r in graph} == {
        (1, 3, 1),
        (1, 4, 2),
        (3, 1, 1),
        (3, 4, 2),
        (4, 3, 1),
        (4, 1, 2),
    }


def test_row_count_is_one_narrow_job(spark):
    sc = spark.sparkContext
    emb = load(spark, SF_DIR, "embeddings")
    for df in (emb, emb.where(F.col("vec_id") < 0)):
        group = f"row-count-{id(df)}"
        sc.setJobGroup(group, "row count")
        try:
            n = S._row_count(df)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert n == df.count()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        assert len(jobs) == 1
        # one stage: no Exchange, which would split the job in two
        assert len(list(tracker.getJobInfo(jobs[0]).stageIds)) == 1
    assert S._row_count(emb) > 0


def _side_frames(spark, ids, vecs):
    emb = spark.createDataFrame(list(zip(ids, vecs)), _SCHEMA)
    docs = spark.createDataFrame(
        [(i, f"alpha beta w{i % 3}") for i in ids], "doc_id long, text string"
    )
    return emb, docs


_D = 16  # LSH_MIX_WIDTH, and m=2 PQ subspaces of 8


def _vec(i, d=_D):
    return [float((i + 1) * (j + 3) % 7 - 3) for j in range(d)]


#: the operators whose scoring kernel collects a side table; the
#: query set, centroid table and PQ seed table are all vec_id < 2
SIDE_TABLE_OPS = {
    "brute": lambda emb, docs: S.brute_force_topk(emb, (0, 1), k=3),
    "lsh": lambda emb, docs: S.lsh_topk(emb, (0, 1), k=3),
    "multiprobe": lambda emb, docs: S.lsh_multiprobe_topk(emb, (0, 1), k=3),
    "ivf": lambda emb, docs: S.ivf_topk(
        emb, (0, 1), k=3, n_centroids=2, nprobe=1
    ),
    "ivfpq": lambda emb, docs: S.ivfpq_topk(
        emb, (0, 1), k=3, n_centroids=2, nprobe=1, m=2, codewords=2,
        dims=_D,
    ),
    "pq_codes": lambda emb, docs: S.pq_codes(emb, m=2, k=2, dims=_D),
    "mmr_pool": lambda emb, docs: R._mmr_pool(emb, [0, 1], 3),
    "hybrid": lambda emb, docs: R.hybrid_search_rrf(docs, emb, (0, 1)),
}


@pytest.mark.parametrize("case", ["empty", "null-vector", "ragged"])
@pytest.mark.parametrize("op", sorted(SIDE_TABLE_OPS))
def test_scoring_kernels_degenerate_side_tables(spark, op, case):
    build = SIDE_TABLE_OPS[op]
    ids = list(range(10))
    vecs = [_vec(i) for i in ids]
    if case == "empty":
        # no vec_id < 2: empty query, centroid and seed tables
        want = build(*_side_frames(spark, ids, vecs)).schema
        got = build(*_side_frames(spark, [i + 10 for i in ids], vecs))
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in want
        ]
        assert got.collect() == []
        return
    if case == "null-vector":
        vecs[1], cause = None, "NULL embedding"
    else:
        vecs[1], cause = _vec(1, _D + 1), "ragged"
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    with pytest.raises(ValueError, match=cause):
        build(*_side_frames(spark, ids, vecs)).collect()
    # a failed build strands no cache: no caller got a handle to it
    assert set(jsc.getPersistentRDDs().keys()) <= before


@pytest.mark.parametrize("op", ["lsh", "ivfpq", "pq_codes"])
def test_scoring_kernels_reject_short_side_vectors(spark, op):
    # LSH mixes the leading LSH_MIX_WIDTH dims; PQ splits m·sub dims
    ids = list(range(10))
    emb, docs = _side_frames(spark, ids, [_vec(i, _D - 1) for i in ids])
    with pytest.raises(ValueError, match="too short"):
        SIDE_TABLE_OPS[op](emb, docs).collect()


def test_floor_long_is_sparks_floor_cast(spark):
    lmax, lmin = np.iinfo(np.int64).max, np.iinfo(np.int64).min
    xs = [float("nan"), float("inf"), float("-inf"), 2.0**63, -(2.0**63),
          1e19, -1e19, 2.5, -0.7]
    want = [0, lmax, lmin, lmax, lmin, lmax, lmin, 2, -1]
    assert S._floor_long(np.array(xs)).tolist() == want
    assert int(S._floor_long(-123456.2)) == -123457  # scalar in, floor
    # and it is Spark's own FLOOR(double) → LONG on every value
    df = spark.createDataFrame([(x,) for x in xs], "x double")
    assert [r[0] for r in df.select(F.floor("x")).collect()] == want


def test_mmr_pool_relevance_floors_negative_cosines(spark):
    # rel_i is Spark's floor(cos·1e6 + 0.5): on a negative cosine with
    # a fraction, truncation toward zero would be one unit too high
    ids = list(range(8))
    emb = spark.createDataFrame([(i, _vec(i)) for i in ids], _SCHEMA)
    pool = R._mmr_pool(emb, [0], len(ids) - 1).collect()
    e = S.with_norm(emb)
    q = e.where("vec_id = 0").select(
        F.col("_vd").alias("vq"), F.col("_norm").alias("nq")
    )
    cos = S.safe_div(
        S.dot(F.col("_vd"), F.col("vq")), F.col("_norm") * F.col("nq")
    )
    want = {
        r.vec_id: r.rel_i
        for r in e.where("vec_id != 0")
        .crossJoin(q)
        .select("vec_id", F.floor(cos * 1e6 + 0.5).alias("rel_i"))
        .collect()
    }
    assert {r.doc_id: r.rel_i for r in pool} == want
    assert sum(v < 0 for v in want.values()) >= 2
