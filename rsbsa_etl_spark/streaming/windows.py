"""Event-time windowing (extension surface — SURVEY §2.8 notes the
reference has no event-time semantics; these go beyond parity).

Batch and streaming share the same expressions: ``F.window`` /
``F.session_window`` group identically over a static or streaming
DataFrame, so each operator here has a batch form (oracle-checkable
against DuckDB ``time_bucket``/window SQL) and a streaming form with
a watermark (tested with AvailableNow in pytest).

Scale notes: tumbling/sliding aggs are partial-aggregated before the
shuffle; session windows in streaming keep per-key state bounded by
the watermark. Late data beyond the watermark is dropped — the
knob a 100 TB stream needs to cap state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from rsbsa_etl_spark.operators.aggregates import decimal_sum
from rsbsa_etl_spark.streaming.replay import availablenow_replay


def tumbling_counts(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """tumbling-window count+sum per event_type (batch form)."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), decimal_sum("value", 2, "total_value"))
        .select(
            F.unix_seconds(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame, width: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """sliding-window counts — each event lands in width/slide
    windows (duplication happens at the grouping expression, no
    self-join)."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_seconds(F.col("w.start")).alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def sessionize(events: DataFrame, gap_s: int) -> DataFrame:
    """batch sessionization: per-user sessions split at inactivity
    gaps > gap_s (lag + cumulative-sum-of-breaks — the standard
    window-function formulation, identical in the SQL oracle).

    Output: one row per session with bounds and size. The streaming
    twin is ``session_window_stream``.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_seconds(F.col("ts")) - F.unix_seconds(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > gap_s), F.lit(1)).otherwise(F.lit(0))
    sess = (
        events.withColumn("_new", new_sess)
        .withColumn(
            "session_seq",
            F.sum("_new").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.unix_seconds(F.min("ts")).alias("session_start"),
            F.unix_seconds(F.max("ts")).alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .withColumn("session_seq", F.col("session_seq").cast("long"))
    )


def sessionize_chunked(
    events: DataFrame, gap_s: int, chunk_s: int = 21_600
) -> DataFrame:
    """two-level sessionization — the hot-key dial for
    ``sessionize``: the flat form's per-user window semantically
    puts EVERY event of a user into one task, which the round-8
    skew measurement priced at a 1.29× straggler when one user
    holds 10% of all rows (SCALING.md). Here level 1 sessionizes
    within (user, time-chunk) — per-task input is events per
    (user, chunk_s window), bounded for any activity rate — and
    level 2 merges only the SESSIONS across chunk boundaries
    (one row per local session; a session chain spanning chunks
    merges transitively through the same cumulative-sum-of-breaks).

    Bit-identical to ``sessionize`` by construction: two local
    sessions inside one chunk are separated by a gap > gap_s and
    can never merge; boundary sessions merge exactly when
    ``start_i − end_{i−1} ≤ gap_s`` — the flat rule applied at
    session granularity — and the level-2 cumulative sum reproduces
    the flat 1-based session_seq. (Pinned by the skew tests and by
    sharing the flat key's DuckDB oracle verbatim.)

    The level-2 input is one row per local session; in the
    adversarial all-singleton-sessions case that equals the event
    count, and the merge being associative means the same chunking
    applies recursively — one level suffices for any realistic
    gap ≪ chunk_s activity."""
    chunk = F.floor(F.unix_seconds(F.col("ts")) / F.lit(chunk_s))
    w1 = Window.partitionBy("user_id", "_chunk").orderBy("ts", "event_id")
    gap = F.unix_seconds(F.col("ts")) - F.unix_seconds(F.lag("ts").over(w1))
    brk1 = F.when(gap.isNull() | (gap > gap_s), F.lit(1)).otherwise(F.lit(0))
    local = (
        events.withColumn("_chunk", chunk)
        .withColumn("_brk", brk1)
        .withColumn(
            "_lseq",
            F.sum("_brk").over(
                w1.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .groupBy("user_id", "_chunk", "_lseq")
        .agg(
            F.unix_seconds(F.min("ts")).alias("s_start"),
            F.unix_seconds(F.max("ts")).alias("s_end"),
            F.count("*").alias("n"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("s_start", "s_end", "_chunk")
    bgap = F.col("s_start") - F.lag("s_end").over(w2)
    brk2 = F.when(bgap.isNull() | (bgap > gap_s), F.lit(1)).otherwise(F.lit(0))
    merged = local.withColumn("_brk2", brk2).withColumn(
        "session_seq",
        F.sum("_brk2").over(
            w2.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        merged.groupBy("user_id", "session_seq")
        .agg(
            F.min("s_start").alias("session_start"),
            F.max("s_end").alias("session_end"),
            F.sum("n").alias("n_events"),
        )
        .withColumn("session_seq", F.col("session_seq").cast("long"))
    )


def tumbling_stream(events: DataFrame, width: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """streaming form of ``tumbling_counts``: watermark bounds state
    and defines late-data drop."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )


def late_data_replay(
    events: DataFrame,
    split_ts: str,
    straggler_mod: int = 11,
    delay: str = "48 hours",
    width: str = "1 hour",
) -> DataFrame:
    """watermark + late-data semantics, end to end through the REAL
    streaming engine, deterministically.

    Phase 1 replays the on-time prefix (ts ≤ split, minus stragglers)
    through an AvailableNow run; the checkpoint commits watermark
    W1 = max(phase-1 ts) − delay. Phase 2 appends the remaining file
    (post-split rows + out-of-order stragglers) and *resumes from the
    same checkpoint*: stragglers landing in windows already closed at
    W1 are dropped by the watermark (visible in
    ``numRowsDroppedByWatermark``), stragglers within the delay
    horizon are still aggregated, and append mode finally emits every
    window closed by W2 = max(all ts) − delay.

    The emitted set is a pure function of (data, split, delay) — the
    DuckDB oracle reproduces it with integer-µs window math — so this
    streaming behavior is value-checked, not just smoke-checked.
    Scale note: this is exactly the state-bounding knob a 100 TB
    stream needs — state is O(open windows), not O(history).
    """
    spark = events.sparkSession
    ontime = (F.col("ts") <= F.lit(split_ts).cast("timestamp")) & (
        F.col("event_id") % straggler_mod != 0
    )
    proj = events.select("event_id", "ts", "event_type")
    emitted = availablenow_replay(
        spark,
        [proj.where(ontime), proj.where(~ontime)],
        "event_id bigint, ts timestamp, event_type string",
        lambda stream: tumbling_stream(stream, width, delay),
        prefix="rsbsa_late_",
    )
    return emitted.select(
        F.unix_seconds("window_start").alias("window_start"), "event_type", "n_events"
    )


def session_window_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """streaming sessionization via the native session_window —
    state per (user, open session), closed by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def session_replay(events: DataFrame, gap_s: int = 1800, delay: str = "48 hours") -> DataFrame:
    """native ``session_window`` sessionization through the REAL
    streaming engine, deterministically value-checkable.

    Phase 1 replays all events through an AvailableNow run (append
    mode emits nothing for sessions still open at the phase-1
    watermark); phase 2 appends a single far-future sentinel event
    and resumes from the checkpoint — the advanced watermark closes
    every real session, so the emitted set is exactly "all sessions",
    and the sentinel's own session (still open) never emits.

    Session semantics at µs precision: a new session starts when the
    inter-event gap is ≥ gap (session windows [t, t+gap) merge only
    when they overlap; an exact-gap event starts a new window), and
    session_end = last event ts + gap. The DuckDB oracle reproduces
    both with integer-µs islands math — streaming state behavior is
    value-checked, not smoke-checked.

    Scale note: state is O(open sessions per user), bounded by the
    watermark — the same mechanics at 100 TB; the sentinel trick is
    the standard "drain state at end-of-backfill" pattern.
    """
    spark = events.sparkSession
    proj = events.select("event_id", "ts", "user_id")
    sentinel = spark.sql(
        "SELECT CAST(-1 AS BIGINT) AS event_id, "
        "timestamp'2030-01-01 00:00:00' AS ts, CAST(-1 AS BIGINT) AS user_id"
    )
    emitted = availablenow_replay(
        spark,
        [proj, sentinel],
        "event_id bigint, ts timestamp, user_id bigint",
        lambda stream: session_window_stream(stream, f"{gap_s} seconds", delay),
        prefix="rsbsa_sess_",
    )
    return emitted.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )


def burst_replay(events: DataFrame, delay: str = "48 hours") -> DataFrame:
    """the streaming half of the burst detector: hourly
    (event_type, hour) rate bins maintained by the REAL streaming
    engine (checkpointed AvailableNow, watermark-bounded state),
    drained with the far-future-sentinel pattern, then flagged with
    the SAME ``analytics.burst_flags`` the batch path uses.

    This is the lambda-architecture equivalence claim made testable:
    the speed layer (stream) and batch layer must produce identical
    bins, so the oracle for this key IS the batch ``burst_detect``
    SQL — any drift between the streaming window emission and the
    batch groupBy shows up as a value mismatch, not a vibe.

    In production the flag query runs periodically over the bins
    sink (bins are hours × types rows — tiny); state in the
    streaming job is O(open windows) under the watermark, the same
    mechanics at 100 TB.
    """
    from rsbsa_etl_spark.operators.analytics import burst_flags

    spark = events.sparkSession
    proj = events.select("event_id", "ts", "event_type")
    sentinel = spark.sql(
        "SELECT CAST(-1 AS BIGINT) AS event_id, "
        "timestamp'2030-01-01 00:00:00' AS ts, '__wm__' AS event_type"
    )
    emitted = availablenow_replay(
        spark,
        [proj, sentinel],
        "event_id bigint, ts timestamp, event_type string",
        lambda stream: tumbling_stream(stream, "1 hour", delay),
        prefix="rsbsa_burst_",
    )
    bins = (
        emitted.where(F.col("event_type") != "__wm__")
        .select(
            "event_type",
            (F.unix_seconds("window_start") / 3600).cast("long").alias("h"),
            F.col("n_events").cast("long").alias("n"),
        )
    )
    return burst_flags(bins)
