"""CLI — the engine's control surface.

The reference exposes an Express HTTP API (``index.js:46-355``:
start-etl / start-etl-force / stop / status / logs). For a Spark
library the equivalent control surface is a CLI + the SparkSession
(status/observability live in the Spark UI and ``observe()``
metrics, scheduling belongs to an external scheduler per SURVEY
§2.10) — this module is that thin wrapper, nothing more:

    python -m rsbsa_etl_spark list
    python -m rsbsa_etl_spark run <query-key> [--sf-dir DIR] [--show N]
    python -m rsbsa_etl_spark sync [--sf-dir DIR]   # §3.1 one-shot
                                                    # (start-etl-force)
    python -m rsbsa_etl_spark tail --log-dir DIR [--follow SECONDS]
                                        # GET /api/logs(/stream)
    python -m rsbsa_etl_spark status    # GET /api/etl-status
    python -m rsbsa_etl_spark explain <query-key> [--full]
                                        # plan-hygiene audit
    python -m rsbsa_etl_spark audit [--out PLANAUDIT.json]
                                        # registry-wide plan counters
    python -m rsbsa_etl_spark verify --all-keys | --keys a,b
                                        # the driver's correctness
                                        # gate, reproducibly
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="rsbsa_etl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    sub.add_parser("list", help="list registered query keys")

    runp = sub.add_parser("run", help="run one registry query")
    runp.add_argument("key")
    runp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    runp.add_argument("--show", type=int, default=20)

    syncp = sub.add_parser("sync", help="run the incremental sync once")
    syncp.add_argument("--sf-dir", default="/root/testdata/sf0.01")

    tailp = sub.add_parser(
        "tail", help="parse + print a log directory (optionally follow)"
    )
    tailp.add_argument("--log-dir", required=True)
    tailp.add_argument(
        "--follow",
        type=int,
        default=0,
        metavar="SECONDS",
        help="keep streaming new lines for N seconds (0 = drain once)",
    )

    sub.add_parser("status", help="show active streaming queries")

    exp = sub.add_parser(
        "explain", help="plan-hygiene audit of one registry query"
    )
    exp.add_argument("key")
    exp.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    exp.add_argument(
        "--full", action="store_true", help="also print the formatted plan"
    )

    aud = sub.add_parser(
        "audit",
        help="regenerate PLANAUDIT.json: per-key physical-plan "
        "counters over every plan-buildable registry key",
    )
    aud.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    aud.add_argument("--out", default="PLANAUDIT.json")

    ver = sub.add_parser(
        "verify",
        help="replicate the driver's correctness gate: run registry "
        "queries AND their DuckDB oracles, compare rows/schema/values",
    )
    vg = ver.add_mutually_exclusive_group(required=True)
    vg.add_argument(
        "--all-keys", action="store_true",
        help="verify the entire registry (the end-of-round gate)",
    )
    vg.add_argument("--keys", help="comma-separated registry keys")
    ver.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ver.add_argument(
        "--out", default=None,
        help="also write the per-key results as JSON (driver row shape)",
    )

    args = p.parse_args(argv)

    from rsbsa_etl_spark.registry import QUERIES

    if args.cmd == "list":
        for k in sorted(QUERIES):
            print(k)
        return 0

    # key validation happens BEFORE the session exists: a typo'd key
    # must not boot a JVM just to print an error — and verify's empty
    # list must be a usage error (exit 2), never a vacuous
    # "0/0 green" success from the correctness gate
    if args.cmd in ("run", "explain") and args.key not in QUERIES:
        print(f"unknown query key: {args.key}", file=sys.stderr)
        return 2
    verify_keys_arg: list[str] | None = None
    if args.cmd == "verify":
        if args.all_keys:
            verify_keys_arg = sorted(QUERIES)
        else:
            verify_keys_arg = [k for k in (args.keys or "").split(",") if k]
            if not verify_keys_arg:
                print("verify: --keys given but empty", file=sys.stderr)
                return 2
            unknown = [k for k in verify_keys_arg if k not in QUERIES]
            if unknown:
                print(f"unknown query keys: {unknown}", file=sys.stderr)
                return 2

    from pyspark.sql import SparkSession

    from rsbsa_etl_spark.session import get_spark

    # stop the session on exit only if this CLI call created it —
    # embedded callers (tests, notebooks) keep their session alive
    owns_session = SparkSession.getActiveSession() is None
    spark = get_spark(app_name=f"rsbsa_cli_{args.cmd}")
    try:
        if args.cmd == "run":
            df = QUERIES[args.key](spark, args.sf_dir)
            df.show(args.show, truncate=False)
            print(f"rows: {df.count()}")
            return 0
        if args.cmd == "tail":
            # the reference's GET /api/logs (drain) and /api/logs/stream
            # (follow) — ``index.js:226-237,278-312`` — through the real
            # streaming engine
            from rsbsa_etl_spark.streaming.tail import run_tail_once, tail_stream

            if args.follow <= 0:
                for row in run_tail_once(spark, args.log_dir).collect():
                    print(f"[{row['ts_raw']}] {row['message']}")
                return 0
            q = (
                tail_stream(spark, args.log_dir)
                .writeStream.outputMode("append")
                .format("console")
                .option("truncate", "false")
                .trigger(processingTime="1 second")
                .start()
            )
            q.awaitTermination(args.follow)
            q.stop()  # graceful stop — the reference's SIGTERM path
            return 0
        if args.cmd == "explain":
            # one key's PLANAUDIT row, from the same build the audit
            # runs (fresh cache, captured loop and micro-batch plans
            # summed), as an interactive tool: what would this query
            # do to a 100 TB cluster? (key validated pre-session)
            import re as _re

            from rsbsa_etl_spark.plans.audit import LABELS, key_plans, plan_row

            df, plans = key_plans(spark, args.key, args.sf_dir)
            row = plan_row(args.key, plans)
            print(f"key: {row.pop('key')}")
            for field, n in row.items():
                print(f"  {LABELS[field] + ':':<28}{n}")
            # Spark elides long filter lists with "..." (no closing
            # bracket), so cut at the line end and cap the width
            pushed = _re.findall(r"PushedFilters: \[[^\n]*", plans[0][1])
            for pf in pushed[:4]:
                print(f"  {pf[:100]}")
            # scale-dial pointers (registry.SCALE_DIALS): if this
            # key's exact arm has a shipped sub-quadratic sibling,
            # say so — the interactive audience of `explain` is
            # exactly who should pick the scale-safe arm by default
            from rsbsa_etl_spark.registry import SCALE_DIAL_OF, SCALE_DIALS

            if args.key in SCALE_DIALS:
                dial, why = SCALE_DIALS[args.key]
                print(f"  at scale use: {dial} — {why}")
            if args.key in SCALE_DIAL_OF:
                print(
                    "  exact audit arm: "
                    f"{', '.join(SCALE_DIAL_OF[args.key])} "
                    "(full recall/exact form; priced for audit runs, "
                    "see SCALING.md)"
                )
            if args.full:
                print(
                    df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted"
                    )
                )
            return 0
        if args.cmd == "audit":
            # the registry-wide counterpart of `explain`: one
            # plans.audit.audit_key row per key, written as the
            # committed PLANAUDIT.json record that tests/test_plans.py
            # checks against the live plans
            import json as _json

            from rsbsa_etl_spark.plans.audit import audit_key

            rows = [audit_key(spark, k, args.sf_dir) for k in sorted(QUERIES)]
            with open(args.out, "w") as fh:
                _json.dump(rows, fh, indent=0)
            print(
                f"audited {len(rows)} keys -> {args.out}; "
                f"rowpy total: {sum(r['rowpy'] for r in rows)}"
            )
            return 0
        if args.cmd == "verify":
            # the end-of-round full-registry gate (LOCAL_SWEEP_r*.md),
            # as one reproducible command. Exit 0 only if every key
            # is green by the driver's own three flags. (Key-list
            # validation already happened pre-session, above.)
            import json as _json

            from rsbsa_etl_spark.verify import row_green, verify_keys

            results = verify_keys(spark, verify_keys_arg, args.sf_dir)
            n_green = 0
            for k, r in results.items():
                green = row_green(r)
                n_green += green
                mark = "PASS" if green else "FAIL"
                detail = "" if green else f"  {r['err'] or r}"
                print(f"{mark} {k}  rows={r['spark_rows']}{detail}")
            if args.out:
                with open(args.out, "w") as fh:
                    _json.dump(results, fh, indent=2)
            print(f"verify: {n_green}/{len(results)} green @ {args.sf_dir}")
            return 0 if n_green == len(results) else 1
        if args.cmd == "status":
            # the reference's GET /api/etl-status (``index.js:329-342``)
            active = spark.streams.active
            print(f"spark: {spark.version}  active streaming queries: {len(active)}")
            for q in active:
                print(f"  {q.name or q.id}: {q.status['message']}")
            return 0
        # sync: the reference's POST /api/start-etl-force — run the
        # §3.1 pipeline once and report totals (``index.js:114-164``)
        df = QUERIES["sync_pipeline_o2m"](spark, args.sf_dir)
        n = df.count()
        print(f"sync complete, target rows: {n}")
        return 0
    finally:
        if owns_session:
            spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
