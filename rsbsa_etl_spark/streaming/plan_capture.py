"""Capture EXECUTED plans the final DataFrame doesn't carry:
streaming micro-batches (round 11) and driver-loop iteration jobs
(round 12 — see ``record`` below), while the audit's
``AUDIT_GATE`` is open.

Until round 11 the plan-hygiene audit excluded every ``stream_*``
key ("building the DataFrame runs real streaming jobs"), so the
0-row-python / no-cartesian invariants were never checked against
the plans that actually execute inside the streaming engine — the
riskiest surface got the least plan evidence. The fix is one shared
helper, ``finish(q, tag)``, called in place of ``q.awaitTermination()``
by the replay scaffold's drain (``streaming.replay.Replay.drain``),
the log tail and the sync stream: it waits exactly as before and
then records the query's LAST micro-batch executed plan (Spark keeps
the final ``IncrementalExecution`` on the terminated query object). The plan
audit (``plans.audit.key_plans``, behind the ``explain`` and ``audit``
CLI commands and tests/test_plans.py) clears ``CAPTURED`` before
building a key and merges whatever accumulated into that key's
counters — so a streaming key's
PLANAUDIT row now counts its real stateful micro-batch plan
(StateStoreSave, streaming dedup/session operators, any Python
stages), not the trivial sink read-back.

Both captures run only while the audit holds ``AUDIT_GATE`` open.
Outside the audit nothing reads ``CAPTURED``, and a long-lived sync
process would otherwise grow it by one plan string per finished
query, without bound.

Capture is best-effort by design: a missing plan must never fail a
replay (the plan is evidence, the replay is the product). Multi-phase
replays (checkpoint-restart tests run 2+ queries) append one entry
per query, all merged into the key's row.
"""

from __future__ import annotations

#: (tag, executed-plan string) per completed streaming query or
#: recorded driver-loop collect since the last ``CAPTURED.clear()``
#: — the audit clears per key.
CAPTURED: list[tuple[str, str]] = []


class _AuditGate:
    """Audit-time switch for plan capture.

    Round 11 closed the streaming blind spot; round 12 closed the
    other one PLANAUDIT.md stated plainly: a driver-loop key (the BPE
    merge loop's per-round argmax) launches intermediate jobs whose
    plans are not part of the final DataFrame. ``record`` and
    ``finish`` below capture them — but ONLY while the audit holds
    this gate open: the loops are hot paths (bpe_train runs in
    bench), sync ticks run forever in a serving process, and
    stringifying an executed plan per merge round or per tick would
    tax production callers for evidence only the audit reads."""

    def __init__(self) -> None:
        self.enabled = False


#: open during ``plans.audit.key_plans`` builds only
AUDIT_GATE = _AuditGate()


def record(df, tag: str) -> None:
    """best-effort capture of a driver-loop intermediate DataFrame's
    executed plan into ``CAPTURED`` under ``loop:<tag>`` — a zero-cost
    boolean check unless the audit opened ``AUDIT_GATE``. Call at the
    loop's collect site, BEFORE the collect, with exactly the
    DataFrame being collected."""
    if not AUDIT_GATE.enabled:
        return
    try:
        CAPTURED.append(
            (f"loop:{tag}", df._jdf.queryExecution().executedPlan().toString())
        )
    except Exception:  # noqa: BLE001 — capture must never fail the loop
        pass


def finish(q, tag: str) -> None:
    """``q.awaitTermination()`` + best-effort capture of the last
    micro-batch's executed plan under ``tag`` while ``AUDIT_GATE`` is
    open."""
    q.awaitTermination()
    if not AUDIT_GATE.enabled:
        return
    try:
        jq = q._jsq
        # StreamingQueryWrapper holds the real StreamExecution behind
        # ``streamingQuery()``; older paths expose lastExecution
        # directly — try both, never raise.
        try:
            le = jq.streamingQuery().lastExecution()
        except Exception:  # noqa: BLE001 — capture is best-effort
            le = jq.lastExecution()
        if le is not None:
            CAPTURED.append((tag, le.executedPlan().toString()))
    except Exception:  # noqa: BLE001 — capture must never fail a replay
        pass
