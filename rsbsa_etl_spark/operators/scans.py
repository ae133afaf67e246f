"""Scans: keyed scans, projected scans, incremental (watermark) scans.

Reference parity (SURVEY §2.1):
- S1 keyed full-row scan  — ``services/etlService.js:33-39``
  (``SELECT * FROM t WHERE rsbsa_no IN (?)``)
- S2 projected keyed scan — ``services/etlService.js:21-24``
- S3 change-log paginated scan — ``models/EtlLogger.js:6-17``
  (LIMIT/OFFSET pagination is an anti-pattern in Spark; the
  incremental scan is a watermark predicate instead — the pagination
  semantics live in ``sorts.page`` for oracle determinism)
- S4 count scan — ``models/EtlLogger.js:19-27``

Scale notes: an ``isin`` literal list compiles to a parquet pushdown
filter (``PushedFilters: [In(l_orderkey, …)]``) which prunes row
groups by min/max stats — the right shape for a keyed scan of a
100 TB table. For key sets too large for a literal list, use
``keyed_scan_df`` (broadcast semi-join) instead.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F


def keyed_scan(df: DataFrame, key_col: str, keys: Sequence) -> DataFrame:
    """S1: full-row scan filtered to a literal key list.

    Catalyst pushes the IN-filter into the parquet scan; at scale
    this prunes row groups via column statistics.
    """
    return df.where(F.col(key_col).isin(list(keys)))


def keyed_scan_df(df: DataFrame, key_col: str, keys_df: DataFrame) -> DataFrame:
    """S1 at scale: key set arrives as a DataFrame, not a driver list.

    The reference collects keys on the driver and interpolates an
    IN-list (``etlService.js:29``); that collapses at 100 TB. A
    broadcast left-semi join keeps the key set distributed and
    avoids shuffling the big side.
    """
    return df.join(F.broadcast(keys_df.select(key_col).distinct()), key_col, "left_semi")


def projected_scan(
    df: DataFrame, columns: Sequence[str], key_col: str, keys: Sequence
) -> DataFrame:
    """S2: project + keyed filter — both pushed to the scan.

    The reference fails to prune columns on data tables
    (``SELECT *``, ``etlService.js:29,35,646``); declaring the
    projection lets parquet skip entire column chunks.
    """
    return df.select(*columns).where(F.col(key_col).isin(list(keys)))


def incremental_scan(df: DataFrame, watermark_col: str, watermark) -> DataFrame:
    """S3/T2: change-log consumption as a watermark predicate.

    Replaces the reference's offset-0 full rescan + LIMIT/OFFSET
    pages (``EtlLogger.js:13``, ``etlService.js:716-735``) with
    ``log_id > last_processed`` — a single pushed-down range
    predicate that reads only new data regardless of table size.
    """
    return df.where(F.col(watermark_col) > F.lit(watermark))


def count_scan(df: DataFrame, *not_null_cols: str) -> DataFrame:
    """S4/A1: filtered COUNT(*) (``EtlLogger.js:19-27``)."""
    cond = None
    for c in not_null_cols:
        pred = F.col(c).isNotNull()
        cond = pred if cond is None else (cond & pred)
    out = df.where(cond) if cond is not None else df
    return out.agg(F.count("*").alias("n_records"))


def partition_pruned_scan(
    events, part_col: str = "event_type", want: str = "click"
):
    """directory-partition pruning, end to end: write the table
    ``partitionBy(part_col)`` and read it back with a partition
    predicate — the scan must touch ONLY the matching directory
    (``PartitionFilters`` in the plan, asserted in tests), which is
    THE first-order lever on a 100 TB table: a pruned scan costs
    the selected partition, not the table.

    Complements the bucket-pruned keyed writes in ``sources.sinks``
    (hash buckets prune by KEY; directory partitions prune by a
    low-cardinality COLUMN — production tables use both). The
    rewrite is layout-only, so the oracle is the plain filter over
    the original data.
    """
    from rsbsa_etl_spark.scratch import scratch_dir

    spark = events.sparkSession
    path = scratch_dir("rsbsa_part_") + "/t"
    (
        events.select("event_id", "user_id", part_col)
        .write.mode("overwrite")
        .partitionBy(part_col)
        .parquet(path)
    )
    return (
        spark.read.parquet(path)
        .where(F.col(part_col) == want)
        .select("event_id", "user_id", part_col)
    )
