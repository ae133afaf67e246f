"""A sync tick's fixed cost and its checkpoint behaviour: one table's
tick runs a fixed number of Spark jobs, an uncommitted batch replays
under the session's checkpoint manager, and finished queries leave no
captured plans outside the plan audit."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from rsbsa_etl_spark.functions.strings import apply_table_rules
from rsbsa_etl_spark.operators.sync import overwrite_by_key
from rsbsa_etl_spark.sources import sinks
from rsbsa_etl_spark.sources.fixtures import load
from rsbsa_etl_spark.streaming import plan_capture
from rsbsa_etl_spark.streaming.sync_stream import sync_stream

from tests.conftest import SF_DIR

N_BUCKETS = 8
COLS = ("rsbsa_no", "c_name", "c_mktsegment")


def _customer_source(spark):
    return load(spark, SF_DIR, "customer").select(
        F.col("c_custkey").cast("string").alias("rsbsa_no"), "c_name", "c_mktsegment"
    )


def _tick_dirs(spark, tmp_path, keys):
    """a target holding every source row with lower-cased names, and
    one change-log file naming ``keys`` for the customer table."""
    src_dir = str(tmp_path / "changelog")
    target_path = str(tmp_path / "target")
    os.makedirs(src_dir)
    cust = _customer_source(spark)
    target0 = cust.withColumn("c_name", F.lower(F.col("c_name")))
    sinks.write_keyed_target(target0, target_path, "rsbsa_no", N_BUCKETS)
    log = spark.createDataFrame(
        [(i, k, "customer") for i, k in enumerate(keys)],
        "log_id bigint, rsbsa_no string, table string",
    )
    tmp = str(tmp_path / "_dump")
    log.coalesce(1).write.parquet(tmp)
    shutil.move(glob.glob(tmp + "/part-*.parquet")[0], f"{src_dir}/log1.parquet")
    return cust, target0, src_dir, target_path


def _stored(spark, path):
    return sorted(
        map(tuple, sinks.read_keyed_target(spark, path).select(*COLS).collect())
    )


def _tick(spark, cust, src_dir, target_path, ckpt):
    q = sync_stream(
        spark, src_dir, cust, target_path, "customer", ckpt, n_buckets=N_BUCKETS
    )
    assert q.exception() is None
    return q


def test_one_table_sync_tick_runs_four_spark_jobs(spark, tmp_path):
    """the tick's key collect, the sink's (key, bucket) collect and
    the write's shuffle and file stages — no distinct shuffle and no
    parquet schema inference. Counted under the query's run id, the
    job group Spark gives every job of a micro-batch."""
    cust, _t0, src_dir, target_path = _tick_dirs(spark, tmp_path, ["3", "7", "7", "12"])
    q = _tick(spark, cust, src_dir, target_path, str(tmp_path / "ckpt"))
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) == 4


def test_uncommitted_batch_replays_under_the_checkpoint_manager(spark, tmp_path):
    """a crash after the sink's write but before the commit leaves the
    batch's offsets without a commit file: the restart must read the
    batch again and converge to the state after one application."""
    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass").endswith(
        ".FileSystemBasedCheckpointFileManager"
    )
    keys = ["3", "7", "7", "12", "no-such-key"]
    cust, target0, src_dir, target_path = _tick_dirs(spark, tmp_path, keys)
    ckpt = str(tmp_path / "ckpt")
    _tick(spark, cust, src_dir, target_path, ckpt)
    once = _stored(spark, target_path)
    fetched = apply_table_rules(cust.where(F.col("rsbsa_no").isin(keys)), "customer")
    assert once == sorted(
        map(tuple, overwrite_by_key(target0, fetched, "rsbsa_no").select(*COLS).collect())
    )

    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    q = _tick(spark, cust, src_dir, target_path, ckpt)
    assert sum(p["numInputRows"] for p in q.recentProgress) == len(keys)
    assert os.path.exists(os.path.join(commits, str(last)))
    assert _stored(spark, target_path) == once


def test_finished_queries_capture_plans_only_under_the_audit(spark, tmp_path):
    """sync ticks outside the audit leave ``CAPTURED`` empty (a serving
    process would otherwise grow it per tick), while the audit of a
    streaming key still counts its micro-batch plan."""
    from rsbsa_etl_spark.plans.audit import audit_key

    plan_capture.CAPTURED.clear()
    cust, _t0, src_dir, target_path = _tick_dirs(spark, tmp_path, ["3", "12"])
    for _ in range(2):
        _tick(spark, cust, src_dir, target_path, str(tmp_path / "ckpt"))
    assert plan_capture.CAPTURED == []

    assert audit_key(spark, "stream_tail", SF_DIR)["micro_batch_plans"] == 1
    assert not plan_capture.AUDIT_GATE.enabled
