"""The incremental sync pipeline (SURVEY §3.1) — the reference's whole
reason to exist, re-expressed as one declarative Spark job.

Reference lifecycle (``services/etlService.js:694-743``):
  count change-log → page 50 000 rows at a time → group by
  (table, key) → per table: keyed re-fetch from source → uppercase
  transform → upsert (one-to-one) or delete+insert (one-to-many) →
  cascade bridge→parcel → sleep 100 ms → repeat.

Spark shape: ONE logical plan per table — the change-log watermark
scan, the keyed source join, the transform, and the merge are all
lazy; Catalyst fuses the filters into the scans, broadcasts the
change-key set, and AQE sizes the shuffles. Pagination, pacing,
driver-side grouping, and transactions disappear (SURVEY §3.1
"Spark shape").

Idempotence: re-running the same change-log yields the same target
state (upsert = last-write-wins per key; overwrite = replace key's
row-set) — property-tested in tests/test_pipeline.py.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from rsbsa_etl_spark.functions.numeric import dec_round
from rsbsa_etl_spark.functions.strings import UPPERCASE_RULES, apply_table_rules
from rsbsa_etl_spark.operators.joins import dependent_join
from rsbsa_etl_spark.operators.scans import incremental_scan, keyed_scan_df
from rsbsa_etl_spark.operators.sync import overwrite_by_key


@dataclass
class SyncResult:
    """per-table post-state + accounting (the reference's
    processed/skipped totals, ``etlService.js:737-743``).

    ``metrics`` is the A6/A7 derived-metric DataFrame
    (``sync_metrics``) — lazy, so materializing the accounting is
    the caller's choice, not a forced extra job.
    """

    targets: dict[str, DataFrame]
    processed: dict[str, int] = field(default_factory=dict)
    skipped: int = 0
    metrics: DataFrame | None = None


def sync_metrics(changelog: DataFrame, since_log_id: int = -1) -> DataFrame:
    """A6/A7 derived run metrics as explicit columns, one row per
    change-log table group.

    Mirrors the reference's two loop-side numbers:

    - ``error_rate_pct`` (``etlService.js:674``): failed/invalid rows
      as a percentage of the batch, 2-decimal quantized exactly like
      ``toFixed(2)``. Here the failure class is the validity filter
      (null key / unroutable table — ``etlService.js:612-619``).
    - ``progress_pct`` (``etlService.js:728``): processed keys over
      total change rows, rounded half-up and CAPPED at 100 — the
      reference caps because its offset jumps by batchSize past the
      end; the cap is kept so the column contract matches.

    One watermark scan → one hash aggregation; no driver-side loop.
    Rows whose table is null group under '(invalid)' so the error
    accounting is visible per routing target.
    """
    scanned = incremental_scan(changelog, "log_id", since_log_id)
    invalid = F.col("rsbsa_no").isNull() | F.col("table").isNull()
    agg = (
        scanned.groupBy(
            F.coalesce(F.col("table"), F.lit("(invalid)")).alias("table_name")
        )
        .agg(
            F.count("*").alias("n_changes"),
            F.count_distinct(
                F.when(~invalid, F.col("rsbsa_no"))
            ).alias("n_keys"),
            F.sum(F.when(invalid, 1).otherwise(0)).alias("n_invalid"),
        )
    )
    err = F.col("n_invalid") * 100.0 / F.col("n_changes")
    prog = F.least(
        F.lit(100),
        F.floor(F.col("n_keys") * 100.0 / F.col("n_changes") + 0.5).cast("int"),
    )
    return agg.select(
        "table_name",
        "n_changes",
        "n_keys",
        "n_invalid",
        dec_round(err, 2).alias("error_rate_pct"),
        prog.alias("progress_pct"),
    )


def changed_keys(changelog: DataFrame, since_log_id: int) -> DataFrame:
    """watermark scan + validity filter + per-table distinct key set.

    Mirrors: S3 incremental read (``EtlLogger.js:6-17``), P4
    invalid-row routing (``etlService.js:612-619``), A2/A3 grouping
    + dedup (``etlService.js:611-625``, ``:99``) — as one plan.
    """
    return (
        incremental_scan(changelog, "log_id", since_log_id)
        .where(F.col("rsbsa_no").isNotNull() & F.col("table").isNotNull())
        .select("table", "rsbsa_no")
        .distinct()
    )


def sync_table(
    table: str,
    source: DataFrame,
    target: DataFrame,
    keys: DataFrame,
    key_col: str = "rsbsa_no",
) -> DataFrame:
    """sync one table: keyed re-fetch → transform → merge.

    - keyed re-fetch: broadcast semi-join against the change-key set
      (the scalable form of ``WHERE rsbsa_no IN (?)``,
      ``etlService.js:29``)
    - transform: per-table uppercase rules (F1/F2)
    - merge: keyed overwrite for both of the reference's table
      classes (``etlService.js:47-50``): ``upsert_merge`` would return
      the same rows, since a left-anti join ignores duplicate keys
    """
    batch = apply_table_rules(keyed_scan_df(source, key_col, keys), table)
    return overwrite_by_key(target, batch, key_col)


def run_incremental_sync(
    changelog: DataFrame,
    sources: dict[str, DataFrame],
    targets: dict[str, DataFrame],
    since_log_id: int = -1,
    bridge_table: str = "parcel_ownership",
    bridge_child: str = "parcel",
    bridge_key: str = "parcel_id",
) -> SyncResult:
    """the full §3.1 pipeline over every changed table.

    The bridge cascade (``etlService.js:642-654``): after syncing the
    ownership bridge, the referenced ``parcel`` rows are synced too —
    keys resolved by a distinct-project + semi-join, never a driver
    collect.
    """
    keys = changed_keys(changelog, since_log_id)
    out: dict[str, DataFrame] = dict(targets)
    changed_tables = [r["table"] for r in keys.select("table").distinct().collect()]
    for table in changed_tables:
        if table not in sources:
            # unknown table in the change log — reference logs a
            # warning and skips (``etlService.js:631-637``)
            continue
        table_keys = keys.where(F.col("table") == table).select("rsbsa_no")
        out[table] = sync_table(table, sources[table], out[table], table_keys)
        if table == bridge_table and bridge_child in sources:
            child_keys = out[table].select(bridge_key).distinct()
            child_batch = apply_table_rules(
                dependent_join(out[table], sources[bridge_child], bridge_key),
                bridge_child,
            )
            out[bridge_child] = overwrite_by_key(
                out[bridge_child], child_batch, bridge_key
            )
    return SyncResult(
        targets=out, metrics=sync_metrics(changelog, since_log_id)
    )
