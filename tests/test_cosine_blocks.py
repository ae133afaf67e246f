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
- ``_floor_long`` is Spark's floor→long cast;
- each ANN kernel's corpus-row rule (NULL vector, NULL element,
  ragged vector, NULL id) is pinned row for row, and the persisted
  index names a NULL query vector.
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
    A, na = S._make_cosine_parts().stack(col)
    # the decode the pandas kernels ran on each group's Series
    ref = np.stack([np.asarray(v, dtype=np.float64) for v in col.to_pandas()])
    assert A.dtype == np.float64 and A.shape == ref.shape
    assert A.tobytes() == ref.tobytes()
    assert na.tobytes() == np.sqrt((ref * ref).sum(axis=1)).tobytes()


def test_stack_rejects_null_and_ragged_vectors():
    stack = S._make_cosine_parts().stack
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


def _degenerate_corpus():
    """48 random 64-d vectors (the oracles' width; the first 16 are the
    IVF centroids and PQ seeds, ids 0-4 the queries) with one corpus
    row of each degenerate class."""
    rng = np.random.default_rng(11)
    vecs = rng.standard_normal((48, 64)).astype(np.float32).tolist()
    ids = list(range(48))
    vecs[20] = None  # NULL vector
    vecs[21][5] = None  # NULL element, inside the LSH mixing width
    vecs[22] = vecs[22][:15]  # ragged, shorter than LSH_MIX_WIDTH
    vecs[23] = vecs[23][:17]  # ragged, past it and one PQ subspace
    ids[24] = None  # NULL id
    return ids, vecs


_DEGENERATE = {20, 21, 22, 23, None}


def _ivf_cells_sql():
    """``ivf_assignments`` as SQL: the argmin-cell CTE of the IVF
    oracles, over every corpus row."""
    from rsbsa_etl_spark.oracles import _EMB_CTE
    from rsbsa_etl_spark.params import IVF_CENTROIDS

    return f"""
WITH {_EMB_CTE.strip()},
cents AS (SELECT vec_id AS cid, v AS vc FROM n WHERE vec_id < {IVF_CENTROIDS}),
corp_d AS (
  SELECT a.vec_id AS nid, c.cid,
         list_sum(list_transform(range(1, 65),
                  i -> (a.v[i] - c.vc[i]) * (a.v[i] - c.vc[i]))) AS d2
  FROM n a, cents c
)
SELECT nid AS vec_id, cid FROM (
  SELECT nid, cid,
         row_number() OVER (PARTITION BY nid ORDER BY d2 ASC, cid ASC) AS rn
  FROM corp_d) WHERE rn = 1
"""


def _served_index(spark, emb, tmp_path):
    from rsbsa_etl_spark.sources.ann_index import (
        build_ivf_index,
        query_ivf_index,
        query_vectors_from_table,
    )

    path = str(tmp_path / "index")
    build_ivf_index(emb, path)
    return query_ivf_index(spark, path, query_vectors_from_table(emb))


#: op → (build(spark, emb, tmp_path), oracle key or None for the
#: assignment CTE, the op's rows that hold a degenerate id, and the
#: sha256 of all its rows on the degenerate corpus)
CORPUS_ROW_OPS = {
    "lsh_topk": (
        lambda spark, emb, tmp: S.lsh_topk(emb),
        "ann_lsh",
        set(),
        "b2c4a9c9359ff1016997fb47bc19fdc0bff828831d94a42bd863124188a007ab",
    ),
    "lsh_multiprobe_topk": (
        lambda spark, emb, tmp: S.lsh_multiprobe_topk(emb),
        "ann_lsh_multiprobe",
        {(2, 21, 0.0, 7), (4, 21, 0.0, 10)},
        "c340174761a9acdfc34c2c35608d711f6683fb734c02017917ba9a5941ec05f1",
    ),
    "ivf_topk": (
        lambda spark, emb, tmp: S.ivf_topk(emb),
        "ann_ivf",
        set(),
        "6678f4d80adcfcce71992d9c25caafe963ffb600dc4d3299b59e7f24673a6ead",
    ),
    "ivfpq_topk": (
        lambda spark, emb, tmp: S.ivfpq_topk(emb),
        "ann_ivfpq",
        {(0, 21, 71.9297, 3)},
        "5e61b5022e5e4ef9f905625509c13e5a2ee61350ff7b7d976973aba98fb9d316",
    ),
    "pq_codes": (
        lambda spark, emb, tmp: S.pq_codes(emb),
        "embedding_pq",
        {
            (None, 11, 3, 15, 0, 65.152644),
            (20, None, None, None, None, None),
            (21, 0, 7, 11, 7, 54.713352),
            (22, None, None, None, None, None),
            (23, 4, None, None, None, 15.455469),
        },
        "88e27eedac3debae09b278cb742b1ea725bc9ef7d8b24b57e3e50c7ab4c1a51e",
    ),
    "ivf_assignments": (
        lambda spark, emb, tmp: S.ivf_assignments(emb).select("vec_id", "cid"),
        None,
        {(20, None), (21, 0), (22, None), (23, None), (None, 11)},
        "f93273e474257d0a68b96ff333b2ae1c3e3d7770ba1166ed775233d2a8305430",
    ),
    # the served index shares ivf_topk's semantics, so its digest too
    "query_ivf_index": (
        _served_index,
        "ann_index_roundtrip",
        set(),
        "6678f4d80adcfcce71992d9c25caafe963ffb600dc4d3299b59e7f24673a6ead",
    ),
}


def _rows_digest(rows) -> str:
    import hashlib
    import json

    def norm(v):
        return v.hex() if isinstance(v, float) else v

    lines = sorted(json.dumps([norm(v) for v in r]) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


@pytest.mark.parametrize("op", sorted(CORPUS_ROW_OPS))
def test_ann_corpus_rows_pin_degenerate_semantics(spark, op, tmp_path):
    """the corpus-row rule of every ANN kernel, pinned on one corpus
    holding a NULL vector, a NULL element, 15- and 17-long ragged
    vectors and a NULL id:

    - on the corpus without those rows, the op equals its DuckDB
      oracle row for row;
    - on the full corpus, the rows that hold a degenerate id are
      exactly the listed ones, and all rows hash to the recorded
      digest. The kernels' rule is not the oracles' there: a NULL or
      ragged vector gets a NULL score, cell or code, or drops, and a
      NULL element reads as NaN (cosine 0, lowest cell), where the
      oracles' ``list_sum`` skips the NULL products."""
    import duckdb
    import pandas as pd

    from rsbsa_etl_spark.oracles import ORACLES
    from rsbsa_etl_spark.verify import canon

    build, key, want_degenerate, digest = CORPUS_ROW_OPS[op]
    ids, vecs = _degenerate_corpus()
    schema = "vec_id long, embedding array<float>"
    clean = [(i, v) for i, v in zip(ids, vecs) if i not in _DEGENERATE]
    got = build(spark, spark.createDataFrame(clean, schema), tmp_path / "clean")
    con = duckdb.connect()
    con.register(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array([i for i, _ in clean], pa.int64()),
                "embedding": pa.array(
                    [v for _, v in clean], pa.list_(pa.float32())
                ),
            }
        ),
    )
    want = con.execute(ORACLES[key] if key else _ivf_cells_sql()).df()
    con.close()
    assert len(want) > 0
    pd.testing.assert_frame_equal(
        canon(got.toPandas()), canon(want), check_dtype=False, rtol=0, atol=1e-9
    )

    rows = build(
        spark, spark.createDataFrame(list(zip(ids, vecs)), schema), tmp_path
    ).collect()
    id_cols = [c for c in ("vec_id", "neighbor_id") if c in rows[0]]
    held = {
        tuple(r)
        for r in rows
        if any(r[c] in _DEGENERATE for c in id_cols)
    }
    assert held == want_degenerate
    assert _rows_digest(rows) == digest


def test_query_ivf_index_rejects_a_null_query_vector(spark, tmp_path):
    from rsbsa_etl_spark.sources.ann_index import (
        build_ivf_index,
        query_ivf_index,
    )

    ids, vecs = _degenerate_corpus()
    emb = spark.createDataFrame(
        [(i, v) for i, v in zip(ids, vecs) if i not in _DEGENERATE],
        "vec_id long, embedding array<float>",
    )
    path = str(tmp_path / "index")
    build_ivf_index(emb, path)
    with pytest.raises(ValueError, match="query table: 1 NULL embedding"):
        query_ivf_index(spark, path, [(0, vecs[0]), (1, None)])
