"""Streaming incremental sync: checkpointed change-log consumption +
keyed-storage merges must equal the batch pipeline's final state, and
re-running over consumed files must be a no-op (exactly-once)."""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import functions as F

from rsbsa_etl_spark.functions.strings import apply_table_rules
from rsbsa_etl_spark.operators.scans import keyed_scan_df
from rsbsa_etl_spark.operators.sync import overwrite_by_key
from rsbsa_etl_spark.sources import sinks
from rsbsa_etl_spark.sources.fixtures import load
from rsbsa_etl_spark.streaming.sync_stream import sync_stream

from tests.conftest import SF_DIR


def _dump(df, src, name, tmp_path):
    tmp = str(tmp_path / "_dump")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.move(glob.glob(tmp + "/part-*.parquet")[0], f"{src}/{name}")


def _customer_source(spark):
    return load(spark, SF_DIR, "customer").select(
        F.col("c_custkey").cast("string").alias("rsbsa_no"), "c_name", "c_mktsegment"
    )


def _changelog_file(spark, src_dir, keys, tmp_path):
    log = spark.createDataFrame(
        [(i, k, "customer") for i, k in enumerate(keys)],
        "log_id bigint, rsbsa_no string, table string",
    )
    _dump(log, src_dir, "log1.parquet", tmp_path)


def test_sync_stream_matches_batch_pipeline(spark, tmp_path):
    src_dir = str(tmp_path / "changelog")
    ckpt = str(tmp_path / "ckpt")
    target_path = str(tmp_path / "target")
    os.makedirs(src_dir)

    cust = _customer_source(spark)
    target0 = cust.where(F.col("rsbsa_no").cast("long") % 2 == 0).withColumn(
        "c_name", F.lower(F.col("c_name"))
    )
    sinks.write_keyed_target(target0, target_path, "rsbsa_no", 8)

    def changelog(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("log_id"),
            ((F.col("id") * 7) % 150).cast("string").alias("rsbsa_no"),
            F.when(F.col("id") % 5 == 0, F.lit(None)).otherwise(
                F.lit("customer")
            ).alias("table"),  # P4: some invalid rows
        )

    # tick 1
    _dump(changelog(0, 40), src_dir, "log1.parquet", tmp_path)
    sync_stream(spark, src_dir, cust, target_path, "customer", ckpt, n_buckets=8)
    # tick 2 — new file only
    _dump(changelog(40, 80), src_dir, "log2.parquet", tmp_path)
    sync_stream(spark, src_dir, cust, target_path, "customer", ckpt, n_buckets=8)

    got = sorted(
        map(
            tuple,
            sinks.read_keyed_target(spark, target_path)
            .select("rsbsa_no", "c_name", "c_mktsegment")
            .collect(),
        )
    )

    # batch-mode model of the same two ticks
    all_log = changelog(0, 80)
    keys = (
        all_log.where(F.col("rsbsa_no").isNotNull() & F.col("table").isNotNull())
        .select("rsbsa_no")
        .distinct()
    )
    batch = apply_table_rules(keyed_scan_df(cust, "rsbsa_no", keys), "customer")
    want = sorted(
        map(tuple, overwrite_by_key(target0, batch, "rsbsa_no").collect())
    )
    assert got == want

    # exactly-once: re-running with no new files changes nothing
    before = sorted(map(tuple, sinks.read_keyed_target(spark, target_path).collect()))
    sync_stream(spark, src_dir, cust, target_path, "customer", ckpt, n_buckets=8)
    after = sorted(map(tuple, sinks.read_keyed_target(spark, target_path).collect()))
    assert before == after


def test_sync_tick_reads_its_batch_once_and_releases_the_fetch(spark, tmp_path):
    """one tick evaluates its micro-batch once (input rows == change
    rows; each extra action on the batch would re-read the file) and
    leaves no persisted RDD behind (the sink's cached fetch is
    released by its owner)."""
    src_dir = str(tmp_path / "changelog")
    target_path = str(tmp_path / "target")
    os.makedirs(src_dir)
    cust = _customer_source(spark)
    sinks.write_keyed_target(cust.where(F.col("rsbsa_no") < "5"), target_path, "rsbsa_no", 8)
    keys = [str(k) for k in (3, 7, 7, 12, 40, 41, 99)]
    _changelog_file(spark, src_dir, keys, tmp_path)

    jsc = spark.sparkContext._jsc
    cached_before = set(jsc.getPersistentRDDs().keys())
    q = sync_stream(
        spark, src_dir, cust, target_path, "customer", str(tmp_path / "ckpt"),
        n_buckets=8,
    )
    assert q.exception() is None
    assert sum(p["numInputRows"] for p in q.recentProgress) == len(keys)
    assert set(jsc.getPersistentRDDs().keys()) <= cached_before


def test_sync_tick_keeps_target_row_of_key_without_source_row(spark, tmp_path):
    """K3 semantics: the reference deletes only the keys of the
    FETCHED records (``DELETE … WHERE key IN (?)`` over the fetched
    rows), so a changed key with no source row keeps its target row,
    while a changed key with a source row is refreshed."""
    src_dir = str(tmp_path / "changelog")
    target_path = str(tmp_path / "target")
    os.makedirs(src_dir)
    cust = _customer_source(spark)
    orphan = spark.createDataFrame(
        [("no-such-key", "orphan name", "ORPHAN")],
        "rsbsa_no string, c_name string, c_mktsegment string",
    )
    target0 = (
        cust.where(F.col("rsbsa_no").isin(["1", "2", "3"]))
        .withColumn("c_name", F.lower(F.col("c_name")))
        .unionByName(orphan)
    )
    sinks.write_keyed_target(target0, target_path, "rsbsa_no", 8)
    _changelog_file(spark, src_dir, ["no-such-key", "2"], tmp_path)

    sync_stream(
        spark, src_dir, cust, target_path, "customer", str(tmp_path / "ckpt"),
        n_buckets=8,
    )

    cols = ("rsbsa_no", "c_name", "c_mktsegment")
    got = sorted(
        map(tuple, sinks.read_keyed_target(spark, target_path).select(*cols).collect())
    )
    fetched = apply_table_rules(cust.where(F.col("rsbsa_no") == "2"), "customer")
    want = sorted(
        map(tuple, overwrite_by_key(target0, fetched, "rsbsa_no").select(*cols).collect())
    )
    assert got == want
    assert ("no-such-key", "orphan name", "ORPHAN") in got
    assert tuple(fetched.select(*cols).first()) in got


def test_salted_join_equals_plain_join(spark):
    from rsbsa_etl_spark.operators.joins import salted_join

    li = load(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    # manufacture skew: fold most keys onto one hot key
    skewed = li.withColumn(
        "k", F.when(F.col("l_orderkey") % 3 != 0, F.lit(7)).otherwise(F.col("l_orderkey"))
    )
    dim = (
        load(spark, SF_DIR, "orders")
        .select(F.col("o_orderkey").alias("k"), "o_orderstatus")
        .where(F.col("k") < 500)
    )
    got = sorted(map(tuple, salted_join(skewed, dim, "k", n_salts=8).collect()))
    want = sorted(map(tuple, skewed.join(dim, "k").collect()))
    assert got == want and len(got) > 0
