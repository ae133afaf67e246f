"""Stream-stream joins (extension surface — SURVEY §2.8: the
reference's only streaming op is a log tail; event-time stream joins
go beyond parity).

Structured Streaming's stream-stream inner join buffers both sides
in state-store keyed state; the event-time bound plus watermarks is
what lets the engine evict state instead of holding both streams
forever — the knob that makes a 100 TB/day dual-stream join
feasible. Here the join is driven through the REAL engine across a
checkpoint restart, which is the property a batch rewrite cannot
fake: phase 2's left rows can only join right rows recovered from
phase 1's persisted state store.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from rsbsa_etl_spark.streaming.replay import Replay, file_sink


def _phased_join_replay(
    events: DataFrame,
    lookback: str,
    delay: str,
    phase1_clicks,
) -> DataFrame:
    """shared runner: dump views + phase-1 clicks, stream once;
    add phase-2 clicks, resume from the same checkpoint; read the
    union of emitted pairs."""
    spark = events.sparkSession
    r = Replay(
        spark,
        "rsbsa_ssj_",
        "event_id bigint, ts timestamp, user_id bigint",
        sources=("clicks", "views"),
    )
    proj = events.select("event_id", "ts", "user_id", "event_type")

    def run_phase() -> None:
        clicks = r.stream("clicks").withWatermark("ts", delay).alias("c")
        views = r.stream("views").withWatermark("ts", delay).alias("v")
        joined = clicks.join(
            views,
            F.expr(
                "c.user_id = v.user_id"
                f" AND v.ts BETWEEN c.ts - INTERVAL {lookback} AND c.ts"
            ),
        ).select(
            F.col("c.event_id").alias("click_id"),
            F.col("v.event_id").alias("view_id"),
        )
        r.drain(file_sink(joined, r.out), "joins.run_phase")

    views = proj.where(F.col("event_type") == "view").drop("event_type")
    clicks = proj.where(F.col("event_type") == "click").drop("event_type")
    r.dump(views, "views.parquet", "views")
    r.dump(clicks.where(phase1_clicks), "clicks_p1.parquet", "clicks")
    run_phase()
    r.dump(clicks.where(~phase1_clicks), "clicks_p2.parquet", "clicks")
    run_phase()
    return spark.read.parquet(r.out).select("click_id", "view_id")


def click_view_join_replay(
    events: DataFrame,
    lookback: str = "1 hour",
    delay: str = "30 days",
) -> DataFrame:
    """watermarked click↔view interval join across a restart.

    Phase 1 streams only the views (clicks source dir exists but is
    empty): the join emits nothing and commits the buffered view
    rows to the checkpointed state store. Phase 2 adds the clicks
    file and resumes from the same checkpoint — every emitted pair
    (click, view by the same user within ``lookback`` before the
    click) joins against state restored from phase 1.

    With ``delay`` covering the fixture's whole time span no state
    is evicted and no input is late, so the emitted set equals the
    batch interval join — a pure function of the data that the
    DuckDB oracle states directly (``click_view_join_evicting`` is
    the shrunk-delay variant).
    """
    return _phased_join_replay(events, lookback, delay, F.lit(False))


def click_view_join_evicting(
    events: DataFrame,
    lookback: str = "1 hour",
    delay: str = "3 days",
    phase_mod: int = 5,
) -> DataFrame:
    """the same interval join with the watermark ACTUALLY advancing —
    late-input dropping across a checkpoint restart, observable and
    oracle-checkable.

    Phase 1 streams all views plus a strided subset of clicks
    (``event_id % phase_mod == 0``) spanning the whole fixture
    window, so the committed watermark lands at
    ``min(max phase-1 click ts, max view ts) - delay`` — deep inside
    the data span. Phase 2 resumes from the checkpoint with the
    remaining clicks: rows with ``ts`` behind the restored watermark
    are late input, dropped by the engine before the join (their
    matching view state is likewise already evicted — the state
    bound is derived from the same watermark minus ``lookback``, so
    the late filter is the observable edge).

    Emitted set = batch interval join where the click is phase 1 OR
    ``click.ts >= watermark`` — stated directly by the oracle. The
    engine's late filter is strict ``<`` (``ts >= wm`` survives),
    pinned by the parity test at every SF.
    """
    p1 = F.col("event_id") % phase_mod == 0
    return _phased_join_replay(events, lookback, delay, p1)
