#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload retrieval_mix --seed 1 \\
        --seconds 12 --trace 0

Workloads: ``retrieval_mix`` and ``sync_ticks`` (the two in
BENCHMARK.json) and ``reference_mix`` (the reference's own query
surface; run by hand only).

Run it from the root of a checkout. A child process first makes the
seed's sf0.1 fixture and the DuckDB oracle results of the workload's
keys (cached under ``perfbench/.cache``; not part of ``setup_s``).
The run then starts ``local[k]`` Spark (k from ``CPUS``), sets up
the workload (for ``sync_ticks`` this includes its untimed warm-up
ticks), value-checks every key once, runs every key once more
untimed (the key mixes only), and runs ops in a closed
loop with one client for at least ``--seconds`` seconds and at least
``layers.MIN_OPS`` ops. The table it prints gives ``op_tail_s`` only
when a run has 40 or more timed ops (ten samples beyond p75).

With ``--trace 0`` the last stdout line carries the end-to-end
metrics; with ``--trace 1`` it carries the per-layer metrics, taken
from spans recorded around every call the benchmark makes into the
program. In a traced run every other round runs untraced, and the
difference of the two halves is reported as the tracing overhead.
Each run also writes a record (metrics, provenance, ops) and, when
traced, its spans to ``perfbench/.out``.
"""

from __future__ import annotations

import os
import time


def _process_age_s() -> float:
    """seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        stat = fh.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


T_PROCESS_START = time.perf_counter() - _process_age_s()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import platform  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
OUT = os.path.join(HERE, ".out")
WORK = os.path.join(HERE, ".work")

sys.path.insert(0, HERE)

import fixture  # noqa: E402
import layers  # noqa: E402
from spans import RssSampler, Tracer, tree_cpu_s, tree_rss_mb  # noqa: E402
from workloads import WORKLOADS, quantile  # noqa: E402


#: Spark task slots (``local[k]``, k capped at nproc), per workload,
#: as measured steadiest on a 4-vCPU machine: with four slots the
#: mixes' run-to-run spreads were about five times wider than with two
#: (two leave the client process, the JVM's JIT and GC threads and the
#: Python workers room), while sync ticks kept warming up over the
#: whole run with two and settled within a few ticks with four
CPUS = {"reference_mix": 2, "retrieval_mix": 2, "sync_ticks": 4}


class Context:
    """what a workload needs from the run: the session, the fixture,
    the oracle cache, the run's own directory and the tracer."""

    def __init__(self, seed, work, sf_dir, oracles, tracer) -> None:
        self.seed = seed
        self.work = work
        self.sf_dir = sf_dir
        self.oracles = oracles
        self.tracer = tracer
        self.spark = None


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _isolate(work: str) -> dict[str, str]:
    """point every temp location of Python, the JVM and Spark into
    the run's own directory."""
    dirs = {d: os.path.join(work, d) for d in ("tmp", "spark-local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    tempfile.tempdir = None
    return dirs


def _build_inputs(args) -> str:
    """the seed's fixture directory, with the workload's oracle
    results in it (made by a child process on first use)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "fixture.py"),
         "--seed", str(args.seed), "--workload", args.workload],
        stdout=subprocess.PIPE, text=True, check=True,
    )
    return proc.stdout.strip().splitlines()[-1]


def _stop_spark(spark) -> None:
    """stop Spark and its JVM, then wait for every child process."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while tree_rss_mb(os.getpid()) > _own_rss_mb() and time.monotonic() < deadline:
        time.sleep(0.1)


def _own_rss_mb() -> float:
    from spans import _rss_kb

    return _rss_kb(os.getpid()) / 1024.0


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine since boot, from
    /proc/stat: on a shared virtual machine, steal is the time other
    guests held this one's CPUs, and it slows every op alike."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:9]]
    return vals[7], sum(vals)


def _provenance(args, spark, sf_dir, load_before, cpu_before) -> dict:
    import pyspark

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    steal, total = _cpu_ticks()
    digest = hashlib.sha256()
    pkg = os.path.join(REPO, "rsbsa_etl_spark")
    for d, _dirs, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    digest.update(fh.read())
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "spark_master": spark.sparkContext.master,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_before": load_before,
        "loadavg_after": list(os.getloadavg()),
        "cpu_steal_share": (steal - cpu_before[0]) / max(1, total - cpu_before[1]),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "fixture": os.path.relpath(sf_dir, REPO),
        "git_commit": commit,
        "source_sha256": digest.hexdigest(),
    }


def _tail_pct(n: int) -> int | None:
    """the highest whole 5% percentile, p75 or above, with at least
    ten of ``n`` samples beyond it; None when ``n`` is too small."""
    pct = None
    for p in range(75, 100, 5):
        if n * (100 - p) / 100.0 >= 10:
            pct = p
    return pct


def run(args) -> int:
    load_before = list(os.getloadavg())
    cpu_before = _cpu_ticks()
    if not (
        os.path.isdir(os.path.join(REPO, "rsbsa_etl_spark"))
        and os.path.isfile(os.path.join(REPO, "tools", "gen_sf.py"))
    ):
        _fail(f"no rsbsa_etl_spark package and tools/gen_sf.py under {REPO}")
    sys.path.insert(0, REPO)
    os.makedirs(WORK, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=WORK)
    dirs = _isolate(work)
    wl = WORKLOADS[args.workload]()
    tracer = Tracer(enabled=True)  # set-up spans are always kept
    spark = sampler = None
    try:
        t_build = time.perf_counter()
        sf_dir = _build_inputs(args)
        build_s = time.perf_counter() - t_build
        oracles = fixture.OracleCache(sf_dir)
        sampler = RssSampler().__enter__()
        with tracer.span("registry.import"):
            import rsbsa_etl_spark.registry  # noqa: F401
        ctx = Context(args.seed, work, sf_dir, oracles, tracer)
        from rsbsa_etl_spark.session import get_spark

        cpus = min(CPUS[args.workload], len(os.sched_getaffinity(0)))
        with tracer.span("session.get_spark"):
            spark = ctx.spark = get_spark(
                app_name=f"perfbench_{args.workload}",
                cpus=cpus,
                extra_conf={
                    "spark.driver.extraJavaOptions": (
                        "-Duser.language=en -Duser.country=US "
                        f"-Djava.io.tmpdir={dirs['tmp']}"
                    ),
                    "spark.local.dir": dirs["spark-local"],
                    "spark.sql.warehouse.dir": dirs["warehouse"],
                },
            )
        if args.trace:
            layers.wrap_sinks(tracer)
        wl.setup(ctx)
        with tracer.span("session.warmup"):
            wl.warm_up(ctx)
        setup_s = time.perf_counter() - T_PROCESS_START - build_s

        t_check = time.perf_counter()
        sampler.paused = True  # the peak covers set-up and the timed ops
        with tracer.span("verify.check"):
            bad_keys = wl.check(ctx)
        sampler.paused = False
        check_s = time.perf_counter() - t_check
        for k, err in bad_keys.items():
            print(f"perfbench: value check failed for {k}: {err}", file=sys.stderr)
        wl.warm_more(ctx)

        ops: list[dict] = []
        rng = random.Random(args.seed)
        t0 = time.perf_counter()
        n_rounds = 0
        for order in wl.rounds(rng):
            traced = bool(args.trace) and n_rounds % 2 == 0
            tracer.enabled = traced
            for key in order:
                tracer.op_id = len(ops)
                cpu0 = tree_cpu_s(os.getpid())
                t_op = time.perf_counter()
                try:
                    dt, ok = wl.run_op(ctx, key, traced)
                except Exception:  # noqa: BLE001 — a failed op is counted, not fatal
                    traceback.print_exc(file=sys.stderr)
                    dt, ok = time.perf_counter() - t_op, False
                ops.append({"key": key, "s": dt, "ok": ok and key not in bad_keys,
                            "traced": traced,
                            "cpu": tree_cpu_s(os.getpid()) - cpu0})
            n_rounds += 1
            if (time.perf_counter() - t0 >= args.seconds
                    and len(ops) >= layers.MIN_OPS[args.workload]):
                break
        loop_s = time.perf_counter() - t0
        tracer.enabled = True

        t_final = time.perf_counter()
        sampler.paused = True
        with tracer.span("verify.check"):
            final_err = wl.final_check(ctx)
        check_s += time.perf_counter() - t_final
        if final_err:
            print(f"perfbench: final check failed: {final_err}", file=sys.stderr)
            for o in ops:
                o["ok"] = False
        tmp_left = sum(1 for d in os.listdir(dirs["tmp"]) if d.startswith("rsbsa_"))
        provenance = _provenance(args, spark, sf_dir, load_before, cpu_before)
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            _stop_spark(spark)
        if sampler is not None:
            sampler.__exit__(None, None, None)
        shutil.rmtree(work, ignore_errors=True)
        stop_s = time.perf_counter() - t_stop

    timed = [o for o in ops if not o["traced"]]
    times = [o["s"] for o in timed]
    end_to_end = {
        "setup_s": setup_s,
        "op_p50_s": quantile(times, 0.5),
        "ops_per_s": len(ops) / loop_s,
    }
    tail_pct = _tail_pct(len(times))
    failed = sum(1 for o in ops if not o["ok"])
    record = {
        "provenance": provenance,
        "end_to_end": end_to_end,
        "op_tail_pct": tail_pct,
        "op_tail_s": quantile(times, tail_pct / 100.0) if tail_pct else None,
        "error_rate": failed / len(ops),
        "peak_rss_mb": sampler.peak_mb,
        "ops": ops,
        "phases_s": {"build": build_s, "setup": setup_s, "check": check_s,
                     "loop": loop_s, "stop": stop_s},
        "value_check_failures": bad_keys,
        "final_check": final_err,
    }
    if args.workload == "sync_ticks":
        record["write_amp"] = wl.layer_metrics(tracer)["sinks.write_amp"]
    if args.trace:
        per_layer = layers.per_layer(wl, tracer, ops, tmp_left, sampler.peak_mb)
        record["per_layer"] = per_layer
        record["self_s"] = tracer.self_times()
        metrics = {m: per_layer[m] for m in layers.PER_LAYER_UNITS}
        units = layers.PER_LAYER_UNITS
    else:
        metrics, units = end_to_end, layers.END_TO_END_UNITS
    os.makedirs(OUT, exist_ok=True)
    stem = os.path.join(OUT, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    if args.trace:
        tracer.dump(stem + ".spans.jsonl")
    with open(stem + ".json", "w") as fh:
        json.dump(record, fh, indent=1, default=str)

    layers.print_report(args.workload, record, end_to_end)
    print(json.dumps(provenance))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {
            m: {"value": float(metrics[m]), "unit": units[m]} for m in units
        },
    }))
    return 0


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    sys.exit(run(ap.parse_args()))


if __name__ == "__main__":
    main()
