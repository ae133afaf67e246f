"""The grouped cosine block kernels' Arrow decode and sizing count.

- ``_make_cosine_parts``' ``stack`` turns the ``list<float|double>``
  Arrow columns a group actually arrives as (multi-chunk, sliced with
  a nonzero offset) into the same float64 matrix the per-row decode
  built, bit for bit;
- NULL and ragged vectors fail the block with a ``ValueError`` naming
  the cause, where a plain ``reshape`` would silently misread them,
  while a NULL *element* still scores NaN and drops out;
- ``_row_count`` sizes the auto and IVF arms with one narrow job.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest
from pyspark.errors import PythonException
from pyspark.sql import functions as F, types as T

from rsbsa_etl_spark.functions import similarity as S
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
