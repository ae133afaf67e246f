"""Measurement helpers: spans, Spark counters and process memory.

Spans are recorded from the benchmark's own files around each call it
makes into a layer of the program; nothing inside the program is
instrumented. A span has a name, start, end, parent span and op id.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """records spans when enabled; ``span`` is a no-op otherwise.

    Parents come from one stack shared by all threads: the only
    callbacks that run on another thread (``foreachBatch``) run while
    the main thread waits for them, so the stack is never entered from
    two threads at once.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op_id: int | None = None

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """total self time per span name: each span's duration minus
        the part of it that its child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            own = (s["end"] - s["start"]) - covered
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def totals(self, name: str) -> tuple[int, float]:
        """(count, total seconds) of the spans called ``name``."""
        spans = [s for s in self.spans if s["name"] == name]
        return len(spans), sum(s["end"] - s["start"] for s in spans)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# ------------------------------------------------------------ Spark counters

def jobs_and_tasks(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under one job group, from the status
    tracker."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            st = tracker.getStageInfo(sid)
            tasks += st.numTasks if st else 0
    return len(jobs), tasks


#: operator metric → counter name in the per-layer table
_NODE_METRICS = {
    "numOutputRows": "rows_out",
    "shuffleBytesWritten": "shuffle_bytes",
    "spillSize": "spill_bytes",
    "numFiles": "files_read",
    "pythonNumRowsReceived": "python_rows",
}


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _metric(node, name: str):
    opt = node.metrics().get(name)
    return opt.get().value() if opt.isDefined() else None


def plan_counters(qe) -> dict[str, int]:
    """sum operator counters over an executed query's final plan: the
    adaptive plan's final form, every query stage and subquery. A
    reused exchange is counted once, where it first ran."""
    out = {v: 0 for v in _NODE_METRICS.values()}
    out["broadcast_bytes"] = 0
    todo = [qe.executedPlan()]
    while todo:
        node = todo.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
            continue
        if cls.startswith("ReusedExchange") or cls.startswith("ReusedSubquery"):
            continue
        if cls.endswith("QueryStageExec"):
            todo.append(node.plan())
            continue
        for metric, counter in _NODE_METRICS.items():
            v = _metric(node, metric)
            if v is not None:
                out[counter] += int(v)
        if cls.startswith("BroadcastExchange"):
            out["broadcast_bytes"] += int(_metric(node, "dataSize") or 0)
        todo.extend(_seq(node.children()))
        todo.extend(_seq(node.subqueries()))
    return out


# ------------------------------------------------------------ process memory

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_mb(root: int) -> float:
    """resident memory of ``root`` and all its descendants (the JVM
    and the Python workers it forks), in MiB."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += _rss_kb(pid)
        todo.extend(kids.get(pid, ()))
    return total / 1024.0


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by ``root`` and all its descendants."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        total += sum(int(v) for v in stat[stat.rindex(")") + 2:].split()[11:15])
        todo.extend(kids.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


class RssSampler:
    """samples the process tree's resident memory on a background
    thread and keeps the peak; samples are dropped while ``paused``."""

    def __init__(self, period_s: float = 0.25) -> None:
        self.period_s = period_s
        self.peak_mb = 0.0
        self.paused = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        if not self.paused:
            self.peak_mb = max(self.peak_mb, tree_rss_mb(os.getpid()))

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
