"""Registry wrappers — structured-streaming family: tail/push sources, stateful
totals, session windows, CDC apply and stream evals.

Split out of registry.py by family (r12 verdict item 8); the
driver contract is unchanged — ``registry.QUERIES`` re-exports
every wrapper, and each key's oracle stays in oracles.ORACLES.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from rsbsa_etl_spark import params as P
from rsbsa_etl_spark.functions.textparse import render_log_lines
from rsbsa_etl_spark.sources.fixtures import load
from rsbsa_etl_spark.streaming import windows as win


def stream_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/T3: drives the real Structured Streaming engine (text file
    source → parse → AvailableNow → memory sink) over log lines
    rendered from the events fixture. Every rendered line is a
    well-formed ``[ts] event_type``, so the engine output is
    value-checked against plain SQL over the same fixture."""
    import os

    from rsbsa_etl_spark.scratch import scratch_dir
    from rsbsa_etl_spark.streaming.tail import run_tail_once

    ev = load(spark, sf_dir, "events")
    lines = render_log_lines(
        ev.select(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"), "event_type"
        ),
        "ts_s",
        "event_type",
    )
    log_dir = os.path.join(scratch_dir("rsbsa_tail_"), "logs")
    lines.coalesce(1).write.mode("overwrite").text(log_dir)
    return run_tail_once(spark, log_dir, query_name="stream_tail_out")


def stream_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming HLL register-max fold through the checkpointed
    engine; final state == batch sketch_hll exactly (5th pin)."""
    from rsbsa_etl_spark.streaming.stateful import hll_stream_replay

    return hll_stream_replay(load(spark, sf_dir, "events"))


def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """native session_window through two checkpointed AvailableNow
    phases; a far-future sentinel advances the watermark so every
    real session closes and emits (see ``windows.session_replay``)."""
    return win.session_replay(load(spark, sf_dir, "events"), gap_s=P.SESSION_GAP_S)

# star-import surface (r13 ADVICE): export ONLY this family's own
# public wrappers — without this, `from families.x import *` in the
# registry re-binds every helper import (F, P, load, operator
# modules) into the registry namespace, and a same-named wrapper in
# two families would silently shadow. Computed, so it cannot drift
# from the module's actual wrapper set (the registration guard in
# tests/test_sweep_rotation.py covers the registry side; the
# collision guard covers cross-family shadowing).
__all__ = sorted(
    _n
    for _n, _f in list(globals().items())
    if callable(_f)
    and getattr(_f, "__module__", "") == __name__
    and not _n.startswith("_")
)
