"""Structured Streaming surface (SURVEY §2.8): tail source, windowed
aggregations with watermarks, streaming==batch agreement.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from rsbsa_etl_spark.schemas import FIXTURE_SCHEMAS
from rsbsa_etl_spark.sources.fixtures import load
from rsbsa_etl_spark.streaming.tail import run_tail_once
from rsbsa_etl_spark.streaming.windows import (
    session_window_stream,
    tumbling_counts,
    tumbling_stream,
)

from tests.conftest import SF_DIR


def test_tail_stream_parses_lines(spark, tmp_path):
    log_dir = str(tmp_path / "logs")
    os.makedirs(log_dir)
    with open(os.path.join(log_dir, "app.log"), "w") as f:
        f.write(
            "[2025-05-03T10:31:00.800+08:00] Starting ETL. Total records: 8\n"
            "\n"
            "malformed line without timestamp\n"
            "[2025-05-03T10:31:02.081+08:00] ERROR: something failed\n"
        )
    out = run_tail_once(spark, log_dir, query_name="tail_test").collect()
    rows = {r["message"]: r["ts_raw"] for r in out}
    assert len(out) == 3  # blank line dropped (P6)
    assert rows["Starting ETL. Total records: 8"] == "2025-05-03T10:31:00.800+08:00"
    assert rows["malformed line without timestamp"] == "__missing__"  # F9 fallback
    assert rows["ERROR: something failed"] == "2025-05-03T10:31:02.081+08:00"


def _events_stream(spark):
    """events fixture replayed through the real streaming engine
    (file source, one micro-batch via AvailableNow)."""
    batch = load(spark, SF_DIR, "events")
    schema = "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    return batch, schema


def test_tumbling_stream_matches_batch(spark, tmp_path):
    batch, schema = _events_stream(spark)
    src = str(tmp_path / "events_src")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        tumbling_stream(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("tumbling_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.table("tumbling_test").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in tumbling_counts(batch)
        .withColumn("window_start", F.timestamp_seconds("window_start"))
        .collect()
    }
    assert got == want


def test_streaming_first_seen_dedups_across_batches(spark, tmp_path):
    """stateful exact dedup: first occurrence wins, duplicates in the
    same batch AND in later batches are dropped via keyed state."""
    import glob
    import shutil

    from rsbsa_etl_spark.streaming.stateful import streaming_first_seen

    src = str(tmp_path / "dedup_src")
    out = str(tmp_path / "dedup_out")
    ckpt = str(tmp_path / "dedup_ckpt")
    os.makedirs(src)
    os.makedirs(out)

    def dump(rows, name):
        df = spark.createDataFrame(rows, "dedup_key bigint, event_id bigint")
        tmp = str(tmp_path / "_tmp")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.move(glob.glob(tmp + "/part-*.parquet")[0], f"{src}/{name}")

    def run_phase():
        stream = spark.readStream.schema("dedup_key bigint, event_id bigint").parquet(src)
        q = (
            streaming_first_seen(stream)
            .writeStream.outputMode("append")
            .foreachBatch(lambda b, _i: b.write.mode("append").parquet(out))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    dump([(1, 10), (1, 11), (2, 20)], "f1.parquet")  # in-batch dup on key 1
    run_phase()
    dump([(1, 12), (2, 21), (3, 30)], "f2.parquet")  # cross-batch dups
    run_phase()
    got = {r["dedup_key"]: r["event_id"] for r in spark.read.parquet(out).collect()}
    assert got == {1: 10, 2: 20, 3: 30}


def test_late_data_replay_drops_stragglers(spark):
    """the two-phase watermark replay really exercises the drop path:
    pre-split stragglers outside the delay horizon never appear in
    the emitted windows (their windows were closed in phase 1)."""
    from rsbsa_etl_spark import params as P
    from rsbsa_etl_spark.streaming.windows import late_data_replay

    ev = load(spark, SF_DIR, "events")
    got = late_data_replay(
        ev,
        split_ts=P.STREAM_SPLIT_TS,
        straggler_mod=P.STREAM_STRAGGLER_MOD,
        delay=f"{P.STREAM_WM_DELAY_HOURS} hours",
    )
    emitted = got.agg(F.sum("n_events")).collect()[0][0]
    total = ev.count()
    # something was emitted, and something was withheld (dropped
    # stragglers + still-open windows)
    assert 0 < emitted < total


def test_session_window_stream_runs(spark, tmp_path):
    batch, schema = _events_stream(spark)
    src = str(tmp_path / "events_sess")
    batch.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        session_window_stream(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("session_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("session_test").collect()
    assert len(rows) > 0
    # sessions are per-user, bounded, and non-empty
    assert all(r["n_events"] >= 1 for r in rows)
    assert all(r["session_end"] >= r["session_start"] for r in rows)


def test_max_files_per_trigger_paces_available_now(spark, tmp_path):
    """T4 backpressure: ``maxFilesPerTrigger=1`` must split an
    AvailableNow run over N files into N rate-limited micro-batches
    (the engine-native replacement for the reference's fixed 100 ms
    sleep between batches, ``services/etlService.js:734``)."""
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(3):
        with open(os.path.join(src, f"f{i}.txt"), "w") as f:
            f.write(f"line-{i}-a\nline-{i}-b\n")

    batches = []

    def sink(df, epoch_id):
        batches.append((epoch_id, df.count()))

    q = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .text(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(batches) == 3  # one micro-batch per file
    assert sorted(n for _, n in batches) == [2, 2, 2]


def test_cdc_merge_skips_redelivered_batch(spark, tmp_path):
    """foreachBatch idempotence: the CDC merge's argmax component is
    re-merge-safe but the additive n_updates count is not, so a
    micro-batch re-delivered after a failure (same batch_id) must be
    skipped via the persisted last-applied batch_id — while a NEW
    batch_id still merges."""
    import pandas as pd

    from rsbsa_etl_spark.streaming.stateful import merge_cdc_batch

    base = str(tmp_path / "cdc")
    import os

    os.makedirs(base)
    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": [1, 2, 3],
                "user_id": [10, 10, 20],
                "ts_us": [100, 200, 300],
                "value": [1.0, 2.0, 3.0],
            }
        )
    )

    def state():
        rows = spark.read.parquet(f"{base}/state").collect()
        return {r.user_id: (r.n, r.ts_us, r.value) for r in rows}

    merge_cdc_batch(spark, base, batch, 0)
    first = state()
    assert first == {10: (2, 200, 2.0), 20: (1, 300, 3.0)}

    # engine retry: same batch_id re-delivered — must be a no-op
    merge_cdc_batch(spark, base, batch, 0)
    assert state() == first

    # genuinely new batch still merges (counts add, argmax advances)
    batch2 = spark.createDataFrame(
        pd.DataFrame(
            {
                "event_id": [4],
                "user_id": [10],
                "ts_us": [150],
                "value": [9.0],
            }
        )
    )
    merge_cdc_batch(spark, base, batch2, 1)
    assert state() == {10: (3, 200, 2.0), 20: (1, 300, 3.0)}

    # crash window between the swap's two renames: the accumulated
    # state sits parked at state_old — the next merge must restore
    # it (not rebuild from the re-delivered batch alone)
    import shutil

    os.rename(f"{base}/state", f"{base}/state_old")
    batch3 = spark.createDataFrame(
        pd.DataFrame(
            {"event_id": [5], "user_id": [30], "ts_us": [50], "value": [7.0]}
        )
    )
    merge_cdc_batch(spark, base, batch3, 2)
    assert state() == {
        10: (3, 200, 2.0),
        20: (1, 300, 3.0),
        30: (1, 50, 7.0),
    }

    # crash window after rename-in, before delete-old: a stale
    # superseded copy must not block the next swap
    shutil.copytree(f"{base}/state", f"{base}/state_old")
    batch4 = spark.createDataFrame(
        pd.DataFrame(
            {"event_id": [6], "user_id": [30], "ts_us": [60], "value": [8.0]}
        )
    )
    merge_cdc_batch(spark, base, batch4, 3)
    assert state()[30] == (2, 60, 8.0)
    assert not os.path.isdir(f"{base}/state_old")


import pytest as _pytest

_SF1_GEN = "/tmp/sfgen/sf1"


@_pytest.mark.parametrize(
    "sf_dir_param",
    [
        None,
        _pytest.param(
            _SF1_GEN,
            marks=_pytest.mark.skipif(
                not os.path.isdir(_SF1_GEN),
                reason="sf1 fixture not generated (tools/gen_sf.py "
                "--sf 1.0 --out /tmp/sfgen/sf1)",
            ),
        ),
    ],
    ids=["default_sf", "sf1"],
)
def test_cdc_stream_restart_resumes_exactly(spark, tmp_path, sf_dir_param):
    """kill-and-restart coverage for the CDC apply — the
    checkpoint-recovery twin of the stream-join eviction replay
    documented in SCALING.md. The engine dies AFTER ``foreachBatch``
    merged micro-batch 1 but BEFORE the offset log committed it —
    the worst crash point, because the restart re-delivers batch 1
    and only the batch-id fence persisted INSIDE the state dir
    stops the additive ``n`` component double-counting. The
    restarted run's state table must equal an uninterrupted run's
    EXACTLY (same rows, same counts, same argmax records).

    Parametrized over the generated sf1 fixture (1M events, 15k-key
    state) when present, so the recovery-time-vs-state-size claim in
    SCALING.md is re-measured per run; ``RSBSA_RESTART_SF_DIR``
    still overrides the default arm for ad-hoc SFs.
    """
    import time

    import pytest
    from pyspark.errors import StreamingQueryException

    from rsbsa_etl_spark.streaming.stateful import merge_cdc_batch
    from rsbsa_etl_spark.streaming.replay import dump_single_file

    sf_dir = sf_dir_param or os.environ.get("RSBSA_RESTART_SF_DIR", SF_DIR)
    proj = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
    )
    schema = "event_id bigint, user_id bigint, ts_us bigint, value double"

    def scaffold(base: str, crash_after_batch: int | None = None):
        src, ckpt = f"{base}/src", f"{base}/ckpt"
        os.makedirs(src)
        dump_single_file(
            proj.where(F.col("event_id") % 2 == 0), base, src, "f0.parquet"
        )
        dump_single_file(
            proj.where(F.col("event_id") % 2 == 1), base, src, "f1.parquet"
        )
        seen: list[int] = []  # batch ids delivered (foreachBatch is driver-side)

        def merge(batch, batch_id):
            seen.append(batch_id)
            merge_cdc_batch(spark, base, batch, batch_id)
            crashmark = f"{base}/_crashed"
            if batch_id == crash_after_batch and not os.path.exists(crashmark):
                open(crashmark, "w").close()
                raise RuntimeError(
                    "injected crash: merge done, offset not committed"
                )

        def start():
            return (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(src)
                .writeStream.foreachBatch(merge)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        return start, seen

    def state_rows(base: str):
        return sorted(
            (r.user_id, r.n, r.ts_us, r.event_id, r.value)
            for r in spark.read.parquet(f"{base}/state").collect()
        )

    # reference: uninterrupted run over the identical two-file replay
    base_ok = str(tmp_path / "ok")
    os.makedirs(base_ok)
    start_ok, _ = scaffold(base_ok)
    q = start_ok()
    q.awaitTermination()

    # crash run: dies after batch 1's state merge
    base_cr = str(tmp_path / "crash")
    os.makedirs(base_cr)
    start, seen = scaffold(base_cr, crash_after_batch=1)
    q = start()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    assert os.path.exists(f"{base_cr}/_crashed")  # injection really fired
    # state already holds BOTH batches (merge ran before the crash) —
    # the dangerous precondition for double-counting on re-delivery
    assert state_rows(base_cr) == state_rows(base_ok)

    # restart from the same checkpoint: batch 1 is re-delivered, the
    # fence must skip it, and the run must complete cleanly
    n_before = len(seen)
    t0 = time.time()
    q2 = start()
    q2.awaitTermination()
    recovery_s = time.time() - t0
    print(f"cdc restart recovery: {recovery_s:.2f}s @ {sf_dir}")

    # the uncommitted batch really was delivered again — without this
    # the equality below would pass without exercising the fence
    assert 1 in seen[n_before:], (
        f"restart did not re-deliver the uncommitted batch: {seen}"
    )
    assert state_rows(base_cr) == state_rows(base_ok), (
        "restarted CDC state diverged from the uninterrupted run — "
        "re-delivered batch double-counted or dropped"
    )


def test_stateful_totals_state_rolls_back_on_midbatch_crash(spark, tmp_path):
    """engine-managed state-store recovery — the applyInPandasWithState
    twin of the CDC foreachBatch-parquet restart test. The sink
    appends batch 1's update rows and THEN dies, so the state store
    version produced for batch 1 exists but was never committed. On
    restart the engine must roll state back to the batch-0 version
    and recompute batch 1 from there: if the uncommitted state delta
    leaked, per-user counts would double-count phase-2 rows; if the
    retry started from empty state, phase-1 rows would vanish. Either
    failure breaks equality with the plain batch aggregate. Duplicate
    OUTPUT rows from the failed attempt are expected (foreachBatch is
    at-least-once) and absorbed by the monotone max reduction — the
    test asserts they are really there, so the recovery path is
    proven exercised, not skipped."""
    import pytest
    from pyspark.errors import StreamingQueryException

    from rsbsa_etl_spark.streaming.stateful import running_user_totals
    from rsbsa_etl_spark.streaming.replay import dump_single_file

    base = str(tmp_path / "totals")
    src, ckpt, out = f"{base}/src", f"{base}/ckpt", f"{base}/out"
    os.makedirs(src)
    os.makedirs(out)

    events = load(spark, SF_DIR, "events")
    proj = events.select("event_id", "user_id", "value")
    schema = "event_id bigint, user_id bigint, value double"
    crashmark = f"{base}/_crashed"

    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out)
        if batch_id == 1 and not os.path.exists(crashmark):
            open(crashmark, "w").close()
            raise RuntimeError("injected crash after sink, before commit")

    def run_phase():
        stream = spark.readStream.schema(schema).parquet(src)
        return (
            running_user_totals(stream)
            .writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    dump_single_file(
        proj.where(F.col("event_id") % 2 == 0), base, src, "f1.parquet"
    )
    q = run_phase()
    q.awaitTermination()

    dump_single_file(
        proj.where(F.col("event_id") % 2 != 0), base, src, "f2.parquet"
    )
    q = run_phase()
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    assert os.path.exists(crashmark)  # the injection really fired

    q = run_phase()  # restart: state rolls back, batch 1 recomputes
    q.awaitTermination()

    updates = spark.read.parquet(out)
    # the failed attempt's rows are present alongside the retry's —
    # at-least-once output, same user twice at batch 1
    per_user_rows = updates.groupBy("user_id").count()
    assert per_user_rows.agg(F.max("count")).collect()[0][0] >= 3

    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in updates.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
        )
        .collect()
    }
    want = {
        r["user_id"]: (r["n"], r["tv"])
        for r in proj.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(
                    F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
                ).cast("double")
                / 100.0
            ).alias("tv"),
        )
        .collect()
    }
    assert got == want, "state store did not roll back to the committed version"


@pytest.mark.parametrize(
    "key",
    ["stream_join_evicting", "stream_stateful_totals", "stream_session"],
)
def test_evicting_join_rocksdb_provider_parity(spark, key):
    """the state-store provider is a CONFIG, not a semantics: every
    stateful shape must emit the identical row set under
    RocksDBStateStoreProvider as under the default in-heap
    HDFS-backed provider. This parity (measured at sf1 in SCALING.md
    round 9 — identical per-batch state rows, identical watermark
    commits, 62.7 MB heap vs 10.4 MB off-heap SST) is what makes the
    one-config flip safe when event-rate x window outgrows executor
    heap at the 100 TB design point. Parametrized over the three
    state shapes the engine carries (r12 verdict item 6): the
    symmetric stream-stream join buffer, the applyInPandasWithState
    running-totals keyed state, and the session-window state — the
    off-heap flip matters for exactly these at 100 TB."""
    from rsbsa_etl_spark.registry import QUERIES

    base = {tuple(r) for r in QUERIES[key](spark, SF_DIR).collect()}
    conf = "spark.sql.streaming.stateStore.providerClass"
    try:
        prev = spark.conf.get(conf)
    except Exception:
        prev = None
    spark.conf.set(
        conf,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        rocks = {tuple(r) for r in QUERIES[key](spark, SF_DIR).collect()}
    finally:
        if prev:
            spark.conf.set(conf, prev)
        else:
            spark.conf.unset(conf)
    assert rocks == base and len(base) > 0
