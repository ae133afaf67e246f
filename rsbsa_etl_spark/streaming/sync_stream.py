"""Streaming incremental sync (SURVEY §2.8 T1/T2 as Structured
Streaming): the change log as a stream, the merge as ``foreachBatch``
into keyed parquet storage.

Reference shape: cron tick → rescan the change log from offset 0 →
re-fetch → upsert/overwrite (``index.js:75-86``,
``models/EtlLogger.js:6-17``). Engine shape: the change-log directory
is a file-source stream with *checkpointed offsets* — each file is
consumed exactly once, surviving restarts, with no rescans — and
every micro-batch runs the same keyed merge the batch pipeline uses
(``plans.etl_pipeline.sync_table`` semantics) against the bucketed
parquet target (``sources.sinks``), whose dynamic partition
overwrite rewrites only the buckets holding that batch's keys.

End-to-end delivery is effectively exactly-once: offsets are
checkpointed and the merge is idempotent per key (last-write-wins),
so a replayed batch converges to the same state — the property the
reference gets from ``ON DUPLICATE KEY UPDATE``, tested here by
re-running the stream over the same files.

A tick runs four Spark jobs per table: the batch's key collect here,
the sink's collect of the fetched rows' (key, bucket) pairs, and the
write's shuffle and file stages. Its checkpoint writes go through the
FileSystem-based checkpoint manager that ``session.get_spark`` sets,
which forks no ``readlink`` per metadata file.

At 100 TB: the stream carries only (key, table) tuples, and each
micro-batch is read exactly once — one job collects its valid keys to
the driver (deduped there, no ``distinct`` shuffle). The key set is
bounded by the batch, not the table, and a broadcast join would route
it through the driver anyway. The re-fetch filters the source by that
literal key list; the sink caches the fetched rows once for one
narrow (key, bucket) collect (deduped on the driver too) and its
write, reads the touched buckets with the fetched rows' schema (no
inference job), and writes touch O(batch keys / n_buckets)
partitions. Nothing in the plan grows with target size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from rsbsa_etl_spark.streaming.plan_capture import finish

from rsbsa_etl_spark.functions.strings import apply_table_rules
from rsbsa_etl_spark.operators.scans import keyed_scan
from rsbsa_etl_spark.sources import sinks

CHANGELOG_STREAM_SCHEMA = "log_id bigint, rsbsa_no string, table string"


def sync_stream(
    spark: SparkSession,
    changelog_dir: str,
    source: DataFrame,
    target_path: str,
    table: str,
    checkpoint_dir: str,
    key_col: str = "rsbsa_no",
    n_buckets: int = 16,
):
    """start (AvailableNow) one sync tick: drain all unconsumed
    change-log files, merge the referenced source rows into the
    keyed parquet target. Returns the finished StreamingQuery.

    The P4 validity filter and A3 key-dedup run inside each batch;
    unknown-table rows are dropped exactly like the reference's
    warning path (``etlService.js:612-637``).
    """

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        rows = (
            batch.where(
                F.col(key_col).isNotNull()
                & F.col("table").isNotNull()
                & (F.col("table") == table)
            )
            .select(key_col)
            .collect()
        )
        keys = sorted({r[0] for r in rows})
        if not keys:  # empty tick — nothing to merge
            return
        fetched = apply_table_rules(keyed_scan(source, key_col, keys), table)
        sinks.overwrite_by_key_into(fetched, target_path, key_col, n_buckets)

    stream = spark.readStream.schema(CHANGELOG_STREAM_SCHEMA).parquet(changelog_dir)
    q = (
        stream.writeStream.outputMode("update")
        .foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    finish(q, "sync_stream.q")
    return q
