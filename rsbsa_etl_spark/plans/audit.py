"""The plan audit: one build per registry key, one row of counters.

``key_plans`` is the only code that builds a registry key to read
its plans, and ``plan_row`` the only code that counts them. The
``explain`` CLI (one key, printed), the ``audit`` CLI (every key,
written as PLANAUDIT.json) and tests/test_plans.py (every key,
checked against the committed JSON and the plan invariants) all read
the same row, so they cannot drift: a counter added or a pattern
fixed here shows up in all three.

The counters are the repo's plan-hygiene vocabulary (PLANAUDIT.md):
``exchanges`` counts shuffles, ``bhj``/``smj``/``nlj`` the join
strategies (``nlj`` counts broadcast nested-loop joins and cartesian
products together, ``cartesian`` the cartesian products alone — must
stay 0 everywhere), ``arrow`` the vectorized Python stages, ``rowpy``
the row-at-a-time Python UDFs (must stay 0 everywhere) and
``global_windows`` the windows with no PARTITION BY, which run in a
single task (each allowed site is listed in tests/test_plans.py).
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
    "cartesian": ("cartesian products", "CartesianProduct"),
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

#: row field -> display label, in the order ``explain`` prints them
LABELS: dict[str, str] = {
    **{key: label for key, (label, _pat) in COUNTER_PATTERNS.items()},
    "global_windows": "unpartitioned windows",
    "loop_plans": "captured loop plans",
    "micro_batch_plans": "captured micro-batch plans",
}


def unpartitioned_windows(plan: str) -> int:
    """count the window specs with no PARTITION BY: their first spec
    element is already an ORDER BY term."""
    n = 0
    for m in re.finditer(
        r"windowspecdefinition\(([^)]*?)specifiedwindowframe", plan
    ):
        first = m.group(1).split(",")[0]
        if " ASC" in first or " DESC" in first:
            n += 1
    return n


def plan_counters(plan: str) -> dict[str, int]:
    """count each plan-hygiene pattern in an executedPlan string."""
    row = {
        key: len(re.findall(pat, plan))
        for key, (_label, pat) in COUNTER_PATTERNS.items()
    }
    row["global_windows"] = unpartitioned_windows(plan)
    return row


def key_plans(spark, key: str, sf_dir: str):
    """build ONE registry key under the audit's discipline and return
    ``(df, plans)``: the built DataFrame and every executed plan the
    build produced, as ``(tag, plan string)`` pairs — the returned
    frame's own plan first (tag ``"final"``), then the captured ones.

    The key is built against an EMPTY cache registry (persisted
    fragments registered by earlier keys rewrite later plans —
    FileScan → InMemoryTableScan — making counters depend on audit
    order). No key is excluded: keys whose BUILD executes work
    (streaming replays, write-path sinks, iterative driver loops,
    eager ANN materialization) simply run — one execution, which is
    what the verify gate pays per key anyway.

    The build runs with ``plan_capture.AUDIT_GATE`` open, so the plans
    the returned frame does not carry are captured too: each streaming
    replay's last micro-batch plan (the sink read-back plan alone
    would trivially pass every invariant while the stateful plan went
    unchecked) and each driver-loop collect's plan (the BPE merge
    rounds' argmax, tagged ``loop:*``).
    """
    from rsbsa_etl_spark.registry import QUERIES
    from rsbsa_etl_spark.streaming.plan_capture import AUDIT_GATE, CAPTURED

    spark.catalog.clearCache()
    CAPTURED.clear()
    AUDIT_GATE.enabled = True
    try:
        df = QUERIES[key](spark, sf_dir)
        plans = [("final", df._jdf.queryExecution().executedPlan().toString())]
    finally:
        AUDIT_GATE.enabled = False
    plans += CAPTURED
    CAPTURED.clear()
    return df, plans


def plan_row(key: str, plans: list[tuple[str, str]]) -> dict:
    """ONE key's PLANAUDIT row: the counters SUMMED over all its plans,
    plus how many captured plans contributed, split into
    ``loop_plans`` and ``micro_batch_plans`` (absent when 0)."""
    row = {"key": key, **plan_counters(plans[0][1])}
    captured = plans[1:]
    for _tag, plan in captured:
        for ck, v in plan_counters(plan).items():
            row[ck] += v
    n_loop = sum(tag.startswith("loop:") for tag, _plan in captured)
    if n_loop:
        row["loop_plans"] = n_loop
    if len(captured) - n_loop:
        row["micro_batch_plans"] = len(captured) - n_loop
    return row


def audit_key(spark, key: str, sf_dir: str) -> dict:
    """ONE registry key's PLANAUDIT row, built by ``key_plans``."""
    return plan_row(key, key_plans(spark, key, sf_dir)[1])
