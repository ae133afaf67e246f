#!/usr/bin/env python3
"""Steadiness check: two sets of runs of the same code, judged against
the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --seeds 10 [--workloads a,b]

Each of the two sets runs every workload once per seed (workloads
interleaved, a fresh seed for every run). For each end-to-end metric
it reports, per set, the median and the spread (distance between the
first and third quartile as a share of the median), and flags a
metric whose spread in either set exceeds its bound, or whose two
set medians differ by more than the bound. Run it from the root of a
checkout; it writes ``perfbench/.out/steady.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

SETS = 2
FIRST_SEED = 1

#: workloads taken out of BENCHMARK.json: name → why
DROPPED = {
    "reference_mix": (
        "about 45 s per run on top of the other two, more than the time "
        "budget of a full set of runs allows; at local[4] and 30 ops per "
        "run its op_p50_s and ops_per_s spreads were also the widest "
        "(0.18-0.27 over 10 seeds). It still runs by hand."
    ),
}


def _run(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    t0 = time.perf_counter()
    proc = subprocess.run(
        cmd + ["--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", "0"],
        cwd=REPO, capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    res["seed"] = seed
    return res


def _stats(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf")}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--workloads", default=None,
                    help="comma list; default: every workload in BENCHMARK.json")
    args = ap.parse_args()
    with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = (args.workloads.split(",") if args.workloads
                 else [w["name"] for w in bench["workloads"]])
    metrics = bench["end_to_end"]

    runs: dict[str, list[list[dict]]] = {w: [] for w in workloads}
    seed = FIRST_SEED
    for _s in range(SETS):
        for w in workloads:
            runs[w].append([])
        for _i in range(args.seeds):
            for w in workloads:
                r = _run(bench["command"], w, seed, bench["run_seconds"])
                runs[w][-1].append(r)
                print(f"  {w:<14} seed {seed:<4} wall {r['wall_s']:6.1f} s  "
                      f"failed {r['failed']}/{r['attempted']}", flush=True)
            seed += 1

    report, ok = {}, True
    for w in workloads:
        report[w] = {}
        for m in metrics:
            name, bound = m["name"], m["bound"]
            sets = [_stats([r["metrics"][name]["value"] for r in rs])
                    for rs in runs[w]]
            a, b = sets[0]["median"], sets[1]["median"]
            drift = abs(b - a) / a
            row_ok = drift <= bound and all(s["spread"] <= bound for s in sets)
            ok = ok and row_ok
            report[w][name] = {"bound": bound, "sets": sets, "drift": drift,
                               "ok": row_ok}
            print(f"{w:<14} {name:<12} bound {bound:.2f}  spreads "
                  + " ".join(f"{s['spread']:.3f}" for s in sets)
                  + "  medians " + " ".join(f"{s['median']:.4g}" for s in sets)
                  + f"  drift {drift:.3f}  {'ok' if row_ok else 'FAIL'}")
        walls = [r["wall_s"] for rs in runs[w] for r in rs]
        print(f"{w:<14} wall per run: median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
    for w, why in DROPPED.items():
        print(f"dropped {w}: {why}")
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    with open(os.path.join(HERE, ".out", "steady.json"), "w") as fh:
        json.dump({"ok": ok, "report": report, "dropped": DROPPED,
                   "runs": runs}, fh, indent=1)
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
