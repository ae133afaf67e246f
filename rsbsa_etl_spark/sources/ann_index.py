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
  unprobed cell. At 100 TB this is the difference between scanning
  the corpus per query batch and scanning nprobe/n_centroids of it.

Semantics are bit-identical to ``similarity.ivf_topk`` (same
deterministic first-N centroids, same assignment kernel, the same
probe rule ``_py_nearest_cells`` — sequential-fold d2, (d2, cid)
order, NaN last — same dec6→dec4 cosine, same rank), so the persisted
path shares ``ann_ivf``'s DuckDB oracle verbatim: one semantics, two
physical strategies.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from rsbsa_etl_spark.functions.numeric import dec_round
from rsbsa_etl_spark.functions.similarity import (
    ANN_QUERY_IDS,
    ANN_TOP_K,
    IVF_CENTROIDS,
    IVF_NPROBE,
    _assign_cells_arrow,
    _cosine_rank,
    _py_nearest_cells,
    dot,
    safe_div,
    with_norm,
)


def build_ivf_index(
    emb: DataFrame, path: str, n_centroids: int = IVF_CENTROIDS
) -> None:
    """write the IVF index at ``path``: ``members/`` parquet
    partitioned by cell id (embedding + norm stored so queries never
    touch the source table) and ``centroids/`` (cid, embedding).

    One corpus pass, one write shuffle-free except the partitioned
    layout (files split by cid within each task — Spark's dynamic
    partition write). Cells are the first ``n_centroids`` vectors by
    vec_id — the deterministic k-means-iteration-0 init every ann_*
    key uses; swapping trained centroids in changes only this table.
    """
    e = with_norm(emb)
    cents = e.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), F.col("_vd").alias("vc")
    )
    members = _assign_cells_arrow(
        e.select("vec_id", "embedding", F.col("_norm").alias("nrm")),
        cents,
        "embedding",
    )
    members.write.mode("overwrite").partitionBy("cid").parquet(
        os.path.join(path, "members")
    )
    emb.where(F.col("vec_id") < n_centroids).select(
        F.col("vec_id").alias("cid"), "embedding"
    ).write.mode("overwrite").parquet(os.path.join(path, "centroids"))


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
    spark = new_emb.sparkSession
    cents = spark.read.parquet(os.path.join(path, "centroids")).select(
        F.col("cid"),
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "vc"
        ),
    )
    e = with_norm(new_emb)
    members = _assign_cells_arrow(
        e.select("vec_id", "embedding", F.col("_norm").alias("nrm")),
        cents,
        "embedding",
    )
    members.write.mode("append").partitionBy("cid").parquet(
        os.path.join(path, "members")
    )


def query_ivf_index(
    spark: SparkSession,
    path: str,
    query_vecs: Sequence[tuple[int, list[float]]],
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
    only the probed directories.

    ``prune=False`` is the MEASUREMENT CONTROL, never the serving
    path: it drops the literal cell filter so the members scan reads
    every partition (the probe join still restricts rows afterward,
    so the result is identical) — tools/measure_serving.py uses it
    to price exactly what partition pruning saves.
    """
    cents = sorted(
        (r["cid"], [float(x) for x in r["embedding"]])
        for r in spark.read.parquet(os.path.join(path, "centroids")).collect()
    )
    probe_rows = [
        (qid, cid)
        for qid, vec in query_vecs
        for cid in _py_nearest_cells([float(x) for x in vec], cents, nprobe)
    ]
    probe_cids = sorted({cid for _q, cid in probe_rows})

    members = spark.read.parquet(os.path.join(path, "members"))
    if prune:
        # literal → partition pruning at planning time
        members = members.where(F.col("cid").isin(probe_cids))
    members = (
        members
        .select(
            F.col("vec_id").alias("neighbor_id"),
            F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
                "vn"
            ),
            F.col("nrm").alias("nn"),
            F.col("cid").cast("bigint").alias("cid"),
        )
    )
    q = with_norm(
        spark.createDataFrame(
            [(int(i), v) for i, v in query_vecs],
            "query_id bigint, embedding array<float>",
        )
    ).select(
        "query_id", F.col("_vd").alias("vq"), F.col("_norm").alias("nq")
    )
    qp = spark.createDataFrame(probe_rows, "query_id bigint, cid bigint")
    q_probe = q.join(qp, "query_id")

    sim = dec_round(
        safe_div(dot(F.col("vq"), F.col("vn")), F.col("nq") * F.col("nn")), 6
    )
    scored = (
        members.join(F.broadcast(q_probe), "cid")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    return _cosine_rank(scored, k)


def query_vectors_from_table(
    emb: DataFrame, query_ids: Sequence[int] = ANN_QUERY_IDS
) -> list[tuple[int, list[float]]]:
    """fetch the benchmark query vectors from the embeddings table —
    |query_ids| rows, the bounded collect that stands in for an
    external query batch."""
    rows = emb.where(F.col("vec_id").isin(list(query_ids))).collect()
    return sorted(
        (int(r["vec_id"]), [float(x) for x in r["embedding"]]) for r in rows
    )
