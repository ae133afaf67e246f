"""Shared physical-plan counters.

ONE regex set consumed by both CLI surfaces (``explain`` — the
interactive per-key audit — and ``audit`` — the registry-wide
PLANAUDIT.json generator), so the two cannot drift: a counter added
or a pattern fixed here shows up in both, and in the committed
PLANAUDIT.json the next time it is regenerated.

The counters are the repo's plan-hygiene vocabulary (PLANAUDIT.md):
``exchanges`` counts shuffles, ``bhj``/``smj``/``nlj`` the join
strategies, ``arrow`` the vectorized Python stages, ``rowpy`` the
row-at-a-time Python UDFs (must stay 0 everywhere).
"""

from __future__ import annotations

import re

#: key -> (display label, regex) — dict order is the display order
COUNTER_PATTERNS: dict[str, tuple[str, str]] = {
    "exchanges": ("shuffles (Exchange)", "Exchange (hash|range)partitioning"),
    "bhj": ("broadcast joins", "BroadcastHashJoin"),
    "smj": ("sort-merge joins", "SortMergeJoin"),
    "nlj": (
        "nested-loop/cartesian",
        "BroadcastNestedLoopJoin|CartesianProduct",
    ),
    "scans": ("file scans", "FileScan"),
    "windows": ("windows", "Window "),
    "arrow": (
        "python (Arrow) stages",
        "MapInPandas|MapInArrow|FlatMapGroupsInPandas"
        "|FlatMapCoGroupsInPandas|FlatMapGroupsInArrow"
        "|FlatMapCoGroupsInArrow|ArrowEvalPython",
    ),
    "rowpy": ("row-at-a-time python UDFs", "BatchEvalPython"),
}


def plan_counters(plan: str) -> dict[str, int]:
    """count each plan-hygiene pattern in an executedPlan string."""
    return {
        key: len(re.findall(pat, plan))
        for key, (_label, pat) in COUNTER_PATTERNS.items()
    }


def audit_key(spark, key: str, sf_dir: str) -> dict:
    """ONE registry key's PLANAUDIT row — shared by the ``audit`` CLI
    and tests/test_plans.py's drift guard so the two cannot diverge.

    Builds the key against an EMPTY cache registry (persisted
    fragments registered by earlier keys rewrite later plans —
    FileScan → InMemoryTableScan — making counters depend on audit
    order) and counts the returned DataFrame's executed plan. Since
    round 11 there are NO excluded keys: keys whose BUILD executes
    work (streaming replays, write-path sinks, iterative driver
    loops, eager ANN materialization) simply run — the audit pays
    one execution, which is exactly what the verify gate pays per
    key anyway. Streaming replays additionally capture their real
    micro-batch executed plans (``streaming.plan_capture``); those
    counters are SUMMED into the key's row (the sink read-back plan
    alone would trivially pass every invariant while the stateful
    plan went unchecked) and the row records how many micro-batch
    plans contributed under ``micro_batch_plans``.

    Driver-loop keys are captured the same way since round 12
    (closing the blind spot PLANAUDIT.md used to state): the build
    runs with ``plan_capture.AUDIT_GATE`` open (the streaming
    capture above waits on the same gate), so each BPE merge
    round's argmax plan lands in ``CAPTURED`` (tagged ``loop:*``)
    and is SUMMED into the key's counters alongside any streaming
    micro-batch plans; the row records the contributing counts
    separately as ``loop_plans`` / ``micro_batch_plans``.
    """
    from rsbsa_etl_spark.registry import QUERIES
    from rsbsa_etl_spark.streaming.plan_capture import AUDIT_GATE, CAPTURED

    spark.catalog.clearCache()
    CAPTURED.clear()
    AUDIT_GATE.enabled = True
    try:
        df = QUERIES[key](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        AUDIT_GATE.enabled = False
    row = plan_counters(plan)
    if CAPTURED:
        n_loop = 0
        for tag, p in CAPTURED:
            n_loop += tag.startswith("loop:")
            for ck, v in plan_counters(p).items():
                row[ck] += v
        if n_loop:
            row["loop_plans"] = n_loop
        if len(CAPTURED) - n_loop:
            row["micro_batch_plans"] = len(CAPTURED) - n_loop
    CAPTURED.clear()
    return {"key": key, **row}
