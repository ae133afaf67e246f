"""Persisted IVF index: the inverted file realized as Spark
PARTITION PRUNING.

Every ``ann_*`` registry key rebuilds its index inside the query
plan — correct for a one-shot benchmark, wasteful for the production
pattern (build once, query many). This module persists the index the
Spark-native way:

- ``build_ivf_index``: one corpus pass assigns each vector to its
  argmin centroid cell (the shuffle-free ``_assign_cells_arrow``
  kernel), then writes the members table ``partitionBy("cid")`` — the
  inverted lists ARE the parquet partition directories — plus the
  tiny centroid table alongside.
- ``query_ivf_index``: computes each query's nprobe nearest cells
  DRIVER-SIDE from the centroid table (n_centroids × 64 floats — a
  bounded, documented collect; it is exactly what turns the cell
  filter into a LITERAL ``cid IN (...)``), so the members scan
  prunes to the probed partition directories at PLANNING time —
  ``PartitionFilters`` in the physical plan, zero I/O for every
  unprobed cell. The pruned scan then feeds the shared Arrow scoring
  kernel (``_topk_scores_arrow``) with each member's STORED cid as
  its candidate key: the index paid for the assignment at build
  time, so serving runs no centroid fold, one ``MapInArrow`` and the
  per-query ranking window — no join. At 100 TB this is the
  difference between scanning the corpus per query batch and
  scanning nprobe/n_centroids of it.

Semantics are bit-identical to ``similarity.ivf_topk`` (same
deterministic first-N centroids, same assignment kernel, the same
probe rule ``_py_nearest_cells`` — sequential-fold d2, (d2, cid)
order, NaN last — and the same scoring kernel), so the persisted
path shares ``ann_ivf``'s DuckDB oracle verbatim: one semantics, two
physical strategies.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from rsbsa_etl_spark.functions.similarity import (
    ANN_QUERY_IDS,
    ANN_TOP_K,
    IVF_CENTROIDS,
    IVF_NPROBE,
    _assign_cells_arrow,
    _collect_id_vecs,
    _cosine_rank,
    _make_cosine_parts,
    _py_nearest_cells,
    _query_rows,
    _topk_scores_arrow,
)


def build_ivf_index(
    emb: DataFrame, path: str, n_centroids: int = IVF_CENTROIDS
) -> None:
    """write the IVF index at ``path``: ``members/`` parquet
    partitioned by cell id (vec_id + embedding, so queries never
    touch the source table) and ``centroids/`` (cid, embedding).

    One corpus pass, one write shuffle-free except the partitioned
    layout (files split by cid within each task — Spark's dynamic
    partition write). Cells are the first ``n_centroids`` vectors by
    vec_id — the deterministic k-means-iteration-0 init every ann_*
    key uses; swapping trained centroids in changes only this table.
    """
    cents = emb.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), "embedding"
    )
    members = _assign_cells_arrow(
        emb.select("vec_id", "embedding"),
        cents.withColumnRenamed("embedding", "vc"),
        "embedding",
    )
    members.write.mode("overwrite").partitionBy("cid").parquet(
        os.path.join(path, "members")
    )
    cents.write.mode("overwrite").parquet(os.path.join(path, "centroids"))


def append_to_ivf_index(new_emb: DataFrame, path: str) -> None:
    """incremental ingest: assign a NEW batch of vectors to cells
    using the index's STORED centroids (not re-derived — the
    quantizer is frozen at build time, the property that makes an
    inverted file append-only) and append them to the partitioned
    members layout. Only the touched cells' directories gain files;
    queries pick the new vectors up with no rebuild and no change to
    the probe computation.

    At 100 TB this is the ingest path: one narrow pass over the
    batch (the assignment kernel), a partitioned append, zero
    contact with the existing members data.
    """
    cents = new_emb.sparkSession.read.parquet(
        os.path.join(path, "centroids")
    ).select("cid", F.col("embedding").alias("vc"))
    members = _assign_cells_arrow(
        new_emb.select("vec_id", "embedding"), cents, "embedding"
    )
    members.write.mode("append").partitionBy("cid").parquet(
        os.path.join(path, "members")
    )


def query_ivf_index(
    spark: SparkSession,
    path: str,
    query_vecs: Sequence[tuple[int, list[float] | None]],
    k: int = ANN_TOP_K,
    nprobe: int = IVF_NPROBE,
    prune: bool = True,
) -> DataFrame:
    """ANN top-k for externally supplied query vectors against the
    persisted index — the serving path.

    The probe-cell computation runs on the driver over the collected
    centroid table through ``_py_nearest_cells`` — the probe rule
    ``ivf_topk`` uses (sequential ``acc + (x-y)²`` fold in python
    float64, the oracle's ``list_sum`` order; (d2, cid) order with a
    NaN distance ranked last), so the probe set is bit-identical.
    The result is a literal ``cid IN (...)`` on the partition
    column: the members scan shows ``PartitionFilters`` and reads
    only the probed directories. The scoring kernel restricts each
    query to the members whose stored cid it probes. A NULL, ragged
    or centroid-mismatched query vector raises ``ValueError`` naming
    the table, before any probe is computed.

    ``prune=False`` is the MEASUREMENT CONTROL, never the serving
    path: it drops the literal cell filter so the members scan reads
    every partition (the kernel's stored-cid restriction still
    applies, so the result is identical) — tools/measure_serving.py
    uses it to price exactly what partition pruning saves.
    """
    cents = _collect_id_vecs(
        spark.read.parquet(os.path.join(path, "centroids")), "cid", "embedding"
    )
    qrows = [
        (int(i), None if v is None else [float(x) for x in v])
        for i, v in query_vecs
    ]
    _make_cosine_parts().side_dims([("query", qrows), ("centroid", cents)])
    cells = [_py_nearest_cells(v, cents, nprobe) for _, v in qrows]

    members = spark.read.parquet(os.path.join(path, "members"))
    if prune:
        # literal → partition pruning at planning time
        members = members.where(
            F.col("cid").isin(sorted({c for cs in cells for c in cs}))
        )
    scored = _topk_scores_arrow(
        members.select(F.col("vec_id").alias("neighbor_id"), "embedding", "cid"),
        qrows,
        "embedding",
        "neighbor_id",
        k,
        probe=lambda _rows: cells,
        cell_col="cid",
    )
    return _cosine_rank(scored, k)


def query_vectors_from_table(
    emb: DataFrame, query_ids: Sequence[int] = ANN_QUERY_IDS
) -> list[tuple[int, list[float] | None]]:
    """fetch the benchmark query vectors from the embeddings table —
    |query_ids| rows, the bounded collect that stands in for an
    external query batch (``_query_rows``)."""
    return _query_rows(emb, query_ids)
