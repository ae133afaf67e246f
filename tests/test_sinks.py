"""Storage-level keyed sinks: dynamic-partition-overwrite semantics
must equal the pure-plan merge semantics, and untouched partitions
must not be rewritten (the I/O-proportionality claim)."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from rsbsa_etl_spark.operators.sync import overwrite_by_key, upsert_merge
from rsbsa_etl_spark.sources import sinks
from rsbsa_etl_spark.sources.fixtures import load

from tests.conftest import SF_DIR

N_BUCKETS = 8


def _snapshot_files(path):
    return {
        p: os.path.getmtime(p)
        for p in glob.glob(f"{path}/{sinks.BUCKET_COL}=*/*.parquet")
    }


def _assert_untouched_buckets_kept(before, after):
    """every untouched bucket keeps its original files byte-for-byte
    (same path, same mtime); at least one bucket was rewritten."""
    touched_dirs = {
        os.path.dirname(p) for p in after if p not in before
    }
    untouched = {p: t for p, t in before.items() if os.path.dirname(p) not in touched_dirs}
    assert untouched, "expected some untouched buckets at 8 buckets"
    for p, t in untouched.items():
        assert os.path.exists(p) and os.path.getmtime(p) == t
    assert touched_dirs, "expected some rewritten buckets"


def _stored(spark, path, cols):
    return sorted(
        map(tuple, sinks.read_keyed_target(spark, path).select(*cols).collect()),
        key=repr,
    )


def _merged(target, incoming, key, cols):
    return sorted(
        map(tuple, overwrite_by_key(target, incoming, key).select(*cols).collect()),
        key=repr,
    )


LI_COLS = ("l_orderkey", "l_linenumber", "l_quantity")


def _lineitem(spark):
    return load(spark, SF_DIR, "lineitem").select(*LI_COLS)


def test_overwrite_by_key_into_matches_plan_semantics(spark, tmp_path):
    path = str(tmp_path / "target")
    li = _lineitem(spark)
    target = li.where(F.col("l_orderkey") < 400)
    # a handful of keys (CDC-sized batch) so hash-bucketing leaves
    # most of the 8 buckets untouched — the point of the layout
    incoming = (
        li.where(F.col("l_orderkey").isin([200, 201, 450, 590]))
        .where(F.col("l_linenumber") <= 2)
        .withColumn("l_quantity", F.col("l_quantity") + 1000)
    )

    sinks.write_keyed_target(target, path, "l_orderkey", N_BUCKETS)
    before = _snapshot_files(path)
    sinks.overwrite_by_key_into(incoming, path, "l_orderkey", N_BUCKETS)
    after = _snapshot_files(path)

    assert _stored(spark, path, LI_COLS) == _merged(
        target, incoming, "l_orderkey", LI_COLS
    )
    _assert_untouched_buckets_kept(before, after)


def test_overwrite_by_key_into_null_keys_follow_left_anti(spark, tmp_path):
    """NULL keys on both sides: the target's NULL-key rows survive
    (NULL matches no incoming key) and the incoming NULL-key rows are
    inserted without deleting anything — exactly the left-anti join
    of ``operators.sync.overwrite_by_key``."""
    path = str(tmp_path / "target_nulls")
    li = _lineitem(spark)
    null_key = F.lit(None).cast("long").alias("l_orderkey")
    target = li.where(F.col("l_orderkey") < 400).unionByName(
        li.where(F.col("l_orderkey") == 3).select(null_key, "l_linenumber", "l_quantity")
    )
    incoming = (
        li.where(F.col("l_orderkey").isin([200, 450]))
        .unionByName(
            li.where(F.col("l_orderkey") == 5).select(
                null_key, "l_linenumber", "l_quantity"
            )
        )
        .withColumn("l_quantity", F.col("l_quantity") + 1000)
    )

    sinks.write_keyed_target(target, path, "l_orderkey", N_BUCKETS)
    before = _snapshot_files(path)
    sinks.overwrite_by_key_into(incoming, path, "l_orderkey", N_BUCKETS)
    after = _snapshot_files(path)

    got = _stored(spark, path, LI_COLS)
    assert got == _merged(target, incoming, "l_orderkey", LI_COLS)
    assert sum(r[0] is None for r in got) == (
        target.where(F.col("l_orderkey").isNull()).count()
        + incoming.where(F.col("l_orderkey").isNull()).count()
    )
    _assert_untouched_buckets_kept(before, after)


def test_overwrite_by_key_into_creates_missing_bucket(spark, tmp_path):
    """an incoming key whose bucket directory does not exist yet: the
    read-back skips it and the write creates it."""
    path = str(tmp_path / "target_sparse")
    li = _lineitem(spark)
    target = li.where(F.col("l_orderkey").isin([1, 2]))
    sinks.write_keyed_target(target, path, "l_orderkey", N_BUCKETS)
    before = _snapshot_files(path)
    present = {os.path.basename(os.path.dirname(p)) for p in before}

    buckets = (
        li.select("l_orderkey", sinks.bucket_of("l_orderkey", N_BUCKETS).alias("b"))
        .where(F.col("l_orderkey") < 400)
        .distinct()
        .collect()
    )
    absent = {
        r.l_orderkey: f"{sinks.BUCKET_COL}={r.b}"
        for r in buckets
        if f"{sinks.BUCKET_COL}={r.b}" not in present
    }
    new_key = min(absent)
    new_dir = os.path.join(path, absent[new_key])
    assert not os.path.exists(new_dir)
    incoming = li.where(F.col("l_orderkey").isin([1, new_key])).withColumn(
        "l_quantity", F.col("l_quantity") + 1000
    )

    sinks.overwrite_by_key_into(incoming, path, "l_orderkey", N_BUCKETS)
    after = _snapshot_files(path)

    assert os.path.isdir(new_dir)
    assert _stored(spark, path, LI_COLS) == _merged(
        target, incoming, "l_orderkey", LI_COLS
    )
    _assert_untouched_buckets_kept(before, after)


def test_overwrite_by_key_into_empty_incoming_is_a_no_op(spark, tmp_path):
    path = str(tmp_path / "target_empty")
    li = _lineitem(spark)
    target = li.where(F.col("l_orderkey") < 400)
    incoming = li.where(F.lit(False))
    sinks.write_keyed_target(target, path, "l_orderkey", N_BUCKETS)
    before = _snapshot_files(path)
    sinks.overwrite_by_key_into(incoming, path, "l_orderkey", N_BUCKETS)
    after = _snapshot_files(path)

    assert _stored(spark, path, LI_COLS) == _merged(
        target, incoming, "l_orderkey", LI_COLS
    )
    # no bucket rewritten: every file keeps its path and mtime
    assert after == before


def test_upsert_into_matches_plan_semantics(spark, tmp_path):
    path = str(tmp_path / "target_o2o")
    cust = load(spark, SF_DIR, "customer").select("c_custkey", "c_name")
    target = cust.where(F.col("c_custkey") % 2 == 0)
    updates = cust.where(F.col("c_custkey") % 3 == 0).withColumn(
        "c_name", F.upper(F.col("c_name"))
    )
    sinks.write_keyed_target(target, path, "c_custkey", N_BUCKETS)
    sinks.overwrite_by_key_into(updates, path, "c_custkey", N_BUCKETS)
    got = sorted(
        map(
            tuple,
            sinks.read_keyed_target(spark, path)
            .select("c_custkey", "c_name")
            .collect(),
        )
    )
    want = sorted(map(tuple, upsert_merge(target, updates, "c_custkey").collect()))
    assert got == want


def test_upsert_into_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "target_idem")
    cust = load(spark, SF_DIR, "customer").select("c_custkey", "c_name")
    target = cust.where(F.col("c_custkey") % 2 == 0)
    updates = cust.where(F.col("c_custkey") % 3 == 0)
    sinks.write_keyed_target(target, path, "c_custkey", N_BUCKETS)
    sinks.overwrite_by_key_into(updates, path, "c_custkey", N_BUCKETS)
    once = sorted(map(tuple, sinks.read_keyed_target(spark, path).collect()))
    sinks.overwrite_by_key_into(updates, path, "c_custkey", N_BUCKETS)
    twice = sorted(map(tuple, sinks.read_keyed_target(spark, path).collect()))
    assert once == twice


def test_bucketed_tables_join_without_shuffle(spark, tmp_path):
    """co-located join: two tables bucketed by the join key join
    with NO Exchange in the plan — the pre-shuffle that makes a
    repeatedly-joined 100 TB fact table affordable. (bucketBy
    requires saveAsTable; the metastore records the bucketing so the
    planner can elide both exchanges.)"""
    orders = load(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    li = load(spark, SF_DIR, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_orders")
    li.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode(
        "overwrite"
    ).saveAsTable("b_lineitem")

    a = spark.table("b_orders")
    b = spark.table("b_lineitem")
    # disable broadcast so the co-location is what saves the shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = a.join(b, "o_orderkey")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert "SortMergeJoin" in plan
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_join_bucketed_leaves_the_catalog_as_it_was(spark):
    """``bucketed_join`` registers two bucketed tables only to read
    them back; once the join frame is built their catalog entries
    are dropped, so repeated builds in one long-lived session do not
    grow the catalog. The dropped entries change neither the rows
    nor the shuffle-free plan."""
    from rsbsa_etl_spark.registry import QUERIES

    def names():
        return sorted(t.name for t in spark.catalog.listTables())

    before = names()
    rows = []
    for _ in range(3):
        df = QUERIES["join_bucketed"](spark, SF_DIR)
        rows.append(sorted(map(tuple, df.collect())))
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan
    assert names() == before
    assert rows[0] and rows[0] == rows[1] == rows[2]


def test_compact_files_reduces_file_count(spark, tmp_path):
    """many small files in, few target-sized files out, data
    byte-identical (the OPTIMIZE maintenance job)."""
    from rsbsa_etl_spark.sources.fixtures import load
    from rsbsa_etl_spark.sources.sinks import compact_files

    from tests.conftest import SF_DIR

    src = str(tmp_path / "small")
    out = str(tmp_path / "compacted")
    ev = load(spark, SF_DIR, "events").select("event_id", "user_id", "value")
    ev.repartition(40).write.parquet(src)  # simulate streaming dribble
    import glob

    n_in = len(glob.glob(f"{src}/part-*"))
    assert n_in >= 40
    n_out = compact_files(spark, src, out, target_bytes=1 << 20)
    assert n_out == len(glob.glob(f"{out}/part-*"))
    assert n_out < n_in / 4
    a = spark.read.parquet(src).orderBy("event_id").collect()
    b = spark.read.parquet(out).orderBy("event_id").collect()
    assert a == b


def test_compaction_plan_shard_invariants(spark):
    """streaming bin-fill guarantees: shard ids monotone in file
    order (contiguous when no file >= 2x target), overshoot bounded
    by one file, and cumulative payload reaches every non-final
    shard boundary."""
    from rsbsa_etl_spark.registry import QUERIES

    from tests.conftest import SF_DIR

    rows = QUERIES["compact_plan"](spark, SF_DIR).collect()
    by_part: dict = {}
    for r in rows:
        by_part.setdefault(r.source, []).append(r)
    from rsbsa_etl_spark import params as P

    for part, files in by_part.items():
        files.sort(key=lambda r: r.doc_id)
        # shard ids are non-decreasing in file order (gaps are legal
        # only when one file >= 2x target skips a whole interval)
        seq = [f.out_shard for f in files]
        assert seq == sorted(seq)
        shards = sorted({f.out_shard for f in files})
        max_file = max(f.n_chars for f in files)
        if max_file < 2 * P.COMPACT_TARGET:
            assert shards == list(range(len(shards)))
        payload = {s: 0 for s in shards}
        for f in files:
            payload[f.out_shard] += f.n_chars
        # bin-fill boundary: the first file of shard k+1 has
        # cum-before >= (k+1)*target, i.e. the cumulative payload of
        # shards 0..k reaches the next boundary — the non-vacuous
        # form of "non-final shards stopped at the boundary"
        cum = 0
        for s in shards:
            cum += payload[s]
            assert payload[s] <= P.COMPACT_TARGET + max_file
            if s != shards[-1]:
                assert cum >= (s + 1) * P.COMPACT_TARGET
