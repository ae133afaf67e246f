"""Metric definitions, the per-layer table and the printed report.

``LAYER_MAP`` says, for each per-layer metric, which end-to-end
metric it should move and on which workload; a metric that should
move nothing is recorded so that cost or leaks cannot hide in it.
A per-layer metric reads 0 on a workload that never enters its layer.
"""

from __future__ import annotations

import statistics

#: smallest number of ops a run makes (whole rounds of every key)
MIN_OPS = {"reference_mix": 45, "retrieval_mix": 12, "sync_ticks": 8}

END_TO_END_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "ops_per_s": "1/s",
}

PER_LAYER_UNITS = {
    "registry.import_s": "s",
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "sinks.initial_load_s": "s",
    "families.build_s": "s",
    "families.build_jobs": "count",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.exec_jobs": "count",
    "spark.exec_tasks": "count",
    "exec.rows_out": "count",
    "exec.shuffle_bytes": "B",
    "exec.spill_bytes": "B",
    "exec.broadcast_bytes": "B",
    "exec.files_read": "count",
    "exec.python_rows": "count",
    "exec.python_rows_per_result_row": "ratio",
    "streaming.add_batch_s": "s",
    "streaming.commit_s": "s",
    "streaming.tick_overhead_s": "s",
    "streaming.input_rows_per_change_row": "ratio",
    "sinks.overwrite_s": "s",
    "sinks.bytes_written": "B",
    "sinks.files_written": "count",
    "sinks.buckets_rewritten": "count",
    "sinks.write_amp": "ratio",
    "verify.check_s": "s",
    "sources.tmp_dirs_left": "count",
    "process.peak_rss_mb": "MiB",
    "process.cpu_per_op_s": "s",
    "self.op_s": "s",
    "self.sync_stream_s": "s",
    "trace.overhead_op_p50_s": "s",
}

_SETUP = "setup_s on every workload"
LAYER_MAP = {
    "registry.import_s": _SETUP,
    "session.get_spark_s": _SETUP,
    "session.warmup_s": "setup_s on sync_ticks (its untimed warm-up ticks)",
    "sinks.initial_load_s": "setup_s on sync_ticks",
    "families.build_s": "op_p50_s and ops_per_s on retrieval_mix",
    "families.build_jobs": "op_p50_s and ops_per_s on retrieval_mix",
    "spark.plan_s": "op_p50_s on retrieval_mix",
    "spark.exec_tasks": "op_p50_s on retrieval_mix",
    "spark.exec_jobs": "op_p50_s on retrieval_mix",
    "spark.exec_s": "ops_per_s on retrieval_mix; not sync_ticks",
    "exec.rows_out": "ops_per_s on retrieval_mix; not sync_ticks",
    "exec.shuffle_bytes": "ops_per_s on retrieval_mix; not sync_ticks",
    "exec.spill_bytes": "ops_per_s on retrieval_mix; not sync_ticks",
    "exec.broadcast_bytes": "ops_per_s on retrieval_mix; not sync_ticks",
    "exec.files_read": "ops_per_s on retrieval_mix; not sync_ticks",
    "exec.python_rows": "ops_per_s on retrieval_mix; not sync_ticks",
    "exec.python_rows_per_result_row": "ops_per_s on retrieval_mix",
    "streaming.add_batch_s": "op_p50_s on sync_ticks; neither mix",
    "streaming.commit_s": "op_p50_s on sync_ticks; neither mix",
    "streaming.tick_overhead_s": "op_p50_s on sync_ticks; neither mix",
    "streaming.input_rows_per_change_row": "op_p50_s on sync_ticks",
    "sinks.overwrite_s": "op_p50_s on sync_ticks; neither mix",
    "sinks.bytes_written": "op_p50_s on sync_ticks; neither mix",
    "sinks.files_written": "op_p50_s on sync_ticks",
    "sinks.buckets_rewritten": "op_p50_s on sync_ticks",
    "sinks.write_amp": "op_p50_s on sync_ticks (bytes written per byte fetched)",
    "verify.check_s": "none (output checking, outside op time)",
    "sources.tmp_dirs_left": "none (temp dirs the program leaves behind)",
    "process.peak_rss_mb": "none (this process + JVM + Python workers, set-up and "
                           "timed ops; too unsteady to bound)",
    "process.cpu_per_op_s": "op_p50_s and ops_per_s on every workload (CPU time "
                            "of this process + JVM + Python workers per untraced op)",
    "self.op_s": "none (the benchmark's own glue inside an op)",
    "self.sync_stream_s": "op_p50_s on sync_ticks",
    "trace.overhead_op_p50_s": "none (tracing cost: traced minus untraced rounds)",
}


def wrap_sinks(tracer) -> None:
    """record a span around every ``sources.sinks.overwrite_by_key_into``
    call (``streaming.sync_stream`` looks it up at call time)."""
    from rsbsa_etl_spark.sources import sinks

    inner = sinks.overwrite_by_key_into

    def overwrite_by_key_into(*args, **kwargs):
        with tracer.span("sinks.overwrite_by_key_into"):
            return inner(*args, **kwargs)

    sinks.overwrite_by_key_into = overwrite_by_key_into


def _overhead(ops: list[dict]) -> float:
    """mean over keys of (median traced op time − median untraced
    op time)."""
    diffs = []
    for key in {o["key"] for o in ops}:
        t = [o["s"] for o in ops if o["key"] == key and o["traced"]]
        u = [o["s"] for o in ops if o["key"] == key and not o["traced"]]
        if t and u:
            diffs.append(statistics.median(t) - statistics.median(u))
    return sum(diffs) / len(diffs) if diffs else 0.0


def per_layer(wl, tracer, ops: list[dict], tmp_dirs_left: int,
              peak_rss_mb: float) -> dict[str, float]:
    out = {m: 0.0 for m in PER_LAYER_UNITS}
    for span, metric in (
        ("registry.import", "registry.import_s"),
        ("session.get_spark", "session.get_spark_s"),
        ("session.warmup", "session.warmup_s"),
        ("sinks.initial_load", "sinks.initial_load_s"),
        ("verify.check", "verify.check_s"),
    ):
        out[metric] = tracer.totals(span)[1]
    out["sources.tmp_dirs_left"] = tmp_dirs_left
    out["process.peak_rss_mb"] = peak_rss_mb
    cpu = [o["cpu"] for o in ops if not o["traced"]]
    out["process.cpu_per_op_s"] = statistics.median(cpu) if cpu else 0.0
    out.update(wl.layer_metrics(tracer))
    n_traced = max(1, sum(1 for o in ops if o["traced"]))
    own = tracer.self_times()
    out["self.op_s"] = (own.get("op", 0.0) + own.get("tick", 0.0)) / n_traced
    out["self.sync_stream_s"] = own.get("streaming.sync_stream", 0.0) / n_traced
    out["trace.overhead_op_p50_s"] = _overhead(ops)
    return out


def print_report(workload: str, record: dict, e2e: dict) -> None:
    """the human-readable table; the machine line follows it."""
    ops = record["ops"]
    failed = sum(1 for o in ops if not o["ok"])
    timed = sum(1 for o in ops if not o["traced"])
    print(f"== perfbench {workload}  seed {record['provenance']['seed']}  "
          f"ops {len(ops)} ({timed} untraced)")
    for name, unit in END_TO_END_UNITS.items():
        print(f"  {name:<34} {e2e[name]:>14.4f} {unit}")
    if record["op_tail_pct"]:
        print(f"  {'op_tail_s':<34} {record['op_tail_s']:>14.4f} s  "
              f"(p{record['op_tail_pct']})")
    else:
        print(f"  {'op_tail_s':<34} {'n/a':>14} (fewer than 40 timed ops)")
    print(f"  {'error_rate':<34} {failed / len(ops):>14.4f} "
          f"({failed} failed of {len(ops)})")
    print(f"  {'peak_rss_mb':<34} {record['peak_rss_mb']:>14.4f} MiB")
    if "write_amp" in record:
        print(f"  {'write_amp':<34} {record['write_amp']:>14.4f} ratio")
    per = record.get("per_layer")
    if per:
        print("  -- per layer (per op unless a set-up figure) --")
        for name, unit in PER_LAYER_UNITS.items():
            print(f"  {name:<34} {per[name]:>14.4f} {unit:<6} → {LAYER_MAP[name]}")
        print("  -- self time per span name (s, whole run) --")
        for name, s in sorted(record["self_s"].items()):
            print(f"  {name:<34} {s:>14.4f}")
