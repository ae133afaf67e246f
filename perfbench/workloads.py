"""The benchmark's workloads.

``KeyMix`` runs registry keys (``reference_mix``, ``retrieval_mix``);
``SyncTicks`` runs cron ticks of the streaming sync
(``sync_ticks``). Each op is one call the client makes and waits for
(a closed loop with one client). Ops run in whole rounds: a round
runs every key of a mix once, in an order drawn from the seed, so
every run weighs every key alike.
"""

from __future__ import annotations

import os
import random
import time

from spans import jobs_and_tasks, plan_counters

#: the reference's own query surface (``reference_mix``, run by hand;
#: not in BENCHMARK.json)
REFERENCE_KEYS = (
    "scan_filter_in", "join_semi", "join_bridge_2step", "agg_sum_groups",
    "upsert_merge", "overwrite_by_key", "merge_cdc", "sync_pipeline_o2o",
    "sync_pipeline_o2m", "sync_metrics", "topk_recent", "string_upper_multi",
    "tpch_q1", "tpch_q3", "tpch_q18",
)

#: ANN, retrieval and dedup keys whose warm ops take 1-2 s at sf0.1.
#: Left out: ann_eval, prf_requery and dedup_containment_auto (4-5 s
#: per warm op, which would triple a round), hybrid_mmr and
#: mmr_rerank_ivf (their DuckDB oracles exceed a 3 GB memory limit),
#: mmr_rerank_auto (its oracle adds 4.5 s to every new seed's set-up)
#: and ann_ivf (ann_ivfpq covers IVF probing)
RETRIEVAL_KEYS = (
    "ann_ivfpq", "knn_graph_ivf", "hard_negatives_ivf", "dedup_embedding_auto",
)


def _mean(vals) -> float:
    vals = list(vals)
    return sum(vals) / len(vals) if vals else 0.0


class KeyMix:
    """runs registry keys; an op is build + plan + execute one key.

    The action is the key's own executed plan (``toRdd().count()``):
    unlike ``DataFrame.count()`` it keeps every projected column, and
    unlike a sink write it leaves the final adaptive plan, with its
    operator metrics, on the DataFrame that was timed.
    """

    def __init__(self, name: str, keys: tuple[str, ...]) -> None:
        self.name = name
        self.keys = keys
        self.traced_ops: list[dict] = []

    # -- set-up / checks -------------------------------------------------

    def oracle_sqls(self) -> dict[str, str]:
        from rsbsa_etl_spark.oracles import ORACLES

        return {k: ORACLES[k] for k in self.keys}

    def setup(self, ctx) -> None:
        self.expected_rows = {k: ctx.oracles.rows(k) for k in self.keys}

    def warm_up(self, ctx) -> None:
        """nothing: the value check is each key's cold first run."""

    def check(self, ctx) -> dict[str, str]:
        """full value check of every key against its oracle; returns
        {key: error} for the keys that do not match. Also the keys'
        first, cold execution, so that the timed rounds run warm."""
        from rsbsa_etl_spark.verify import row_green, verify_key

        bad = {}
        for k in self.keys:
            row = verify_key(ctx.spark, k, ctx.sf_dir, ctx.oracles)
            if not row_green(row):
                bad[k] = row["err"] or (
                    f"rows {row['spark_rows']} vs oracle {row['oracle_rows']}"
                )
        return bad

    def warm_more(self, ctx) -> None:
        """one more untimed run of every key after the value check: in
        the first timed rounds ops were still 10-15% slower than in
        the third."""
        from rsbsa_etl_spark.registry import QUERIES

        for k in self.keys:
            QUERIES[k](ctx.spark, ctx.sf_dir)._jdf.queryExecution().toRdd().count()
            ctx.spark.catalog.clearCache()

    def rounds(self, rng: random.Random):
        while True:
            order = list(self.keys)
            rng.shuffle(order)
            yield order

    # -- one op ----------------------------------------------------------

    def run_op(self, ctx, key: str, traced: bool) -> tuple[float, bool]:
        from rsbsa_etl_spark.registry import QUERIES

        spark, tr = ctx.spark, ctx.tracer
        if not traced:
            t0 = time.perf_counter()
            df = QUERIES[key](spark, ctx.sf_dir)
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            n = qe.toRdd().count()
            dt = time.perf_counter() - t0
            spark.catalog.clearCache()
            return dt, n == self.expected_rows[key]

        sc = spark.sparkContext
        op = tr.op_id
        t0 = time.perf_counter()
        with tr.span("op", key=key):
            sc.setJobGroup(f"pb-{op}-build", key)
            with tr.span("families.build"):
                df = QUERIES[key](spark, ctx.sf_dir)
            with tr.span("spark.plan"):
                qe = df._jdf.queryExecution()
                qe.executedPlan()
            sc.setJobGroup(f"pb-{op}-exec", key)
            with tr.span("spark.exec"):
                n = qe.toRdd().count()
            sc.setLocalProperty("spark.jobGroup.id", None)
        dt = time.perf_counter() - t0
        build_jobs, _ = jobs_and_tasks(spark, f"pb-{op}-build")
        exec_jobs, exec_tasks = jobs_and_tasks(spark, f"pb-{op}-exec")
        rec = {"key": key, "rows": n, "build_jobs": build_jobs,
               "exec_jobs": exec_jobs, "exec_tasks": exec_tasks}
        rec.update(plan_counters(qe))
        self.traced_ops.append(rec)
        spark.catalog.clearCache()
        return dt, n == self.expected_rows[key]

    def final_check(self, ctx) -> str | None:
        return None

    # -- per-layer figures -----------------------------------------------

    def layer_metrics(self, tr) -> dict[str, float]:
        ops = self.traced_ops
        n = max(1, len(ops))
        rows = sum(o["rows"] for o in ops)
        out = {
            "families.build_s": tr.totals("families.build")[1] / n,
            "families.build_jobs": _mean(o["build_jobs"] for o in ops),
            "spark.plan_s": tr.totals("spark.plan")[1] / n,
            "spark.exec_s": tr.totals("spark.exec")[1] / n,
            "spark.exec_jobs": _mean(o["exec_jobs"] for o in ops),
            "spark.exec_tasks": _mean(o["exec_tasks"] for o in ops),
        }
        for c in ("rows_out", "shuffle_bytes", "spill_bytes",
                  "broadcast_bytes", "files_read", "python_rows"):
            out[f"exec.{c}"] = _mean(o[c] for o in ops)
        out["exec.python_rows_per_result_row"] = (
            sum(o["python_rows"] for o in ops) / max(1, rows)
        )
        return out


# ---------------------------------------------------------------- sync ticks

#: the targets a tick syncs: table → (source key column, value columns)
SYNC_TABLES = {
    "customer": ("c_custkey", ("c_name", "c_mktsegment")),
    "lineitem": ("l_orderkey", ("l_linenumber", "l_quantity")),
}
N_BUCKETS = 16
RECORDS_PER_TICK = 8
#: untimed ticks in set-up: on a 4-vCPU machine a tick took about 3.5 s
#: at first and settled near 2 s only after about eight ticks, and how
#: fast it settled varied from run to run (with one warm-up tick the
#: median of the next eight spread 0.2-0.35 across seeds)
WARMUP_TICKS = 8


class SyncTicks:
    """one op = one cron tick: the upstream system has appended one
    change-log file; the tick drains it into both keyed targets with
    ``streaming.sync_stream.sync_stream``."""

    name = "sync_ticks"

    def __init__(self) -> None:
        self.keys = ("tick",)
        self.ticks: list[dict] = []
        self.valid_keys = {t: set() for t in SYNC_TABLES}
        self._log_id = 0

    def oracle_sqls(self) -> dict[str, str]:
        return {}

    # -- set-up ----------------------------------------------------------

    def _source(self, ctx, table):
        from pyspark.sql import functions as F

        from rsbsa_etl_spark.sources.fixtures import load

        key, cols = SYNC_TABLES[table]
        return load(ctx.spark, ctx.sf_dir, table).select(
            F.col(key).cast("string").alias("rsbsa_no"), *cols
        )

    def _initial(self, src, table):
        """the target before the first tick: it diverges from the
        source, so that both merge paths do real work."""
        from pyspark.sql import functions as F

        if table == "customer":
            return src.withColumn("c_name", F.lower("c_name"))
        return src.where(F.col("l_linenumber") <= 2)

    def setup(self, ctx) -> None:
        import numpy as np
        import pyarrow.parquet as pq

        from rsbsa_etl_spark.sources import sinks

        self.rng = np.random.default_rng(ctx.seed)
        self.log_dir = os.path.join(ctx.work, "changelog")
        self.stage_dir = os.path.join(ctx.work, "changelog_stage")
        os.makedirs(self.log_dir)
        os.makedirs(self.stage_dir)
        self.sources, self.targets, self.ckpts = {}, {}, {}
        self.row_bytes, self.key_rows, self.n_keys = {}, {}, {}
        for table, (key, _cols) in SYNC_TABLES.items():
            src = self._source(ctx, table)
            path = os.path.join(ctx.work, "targets", table)
            with ctx.tracer.span("sinks.initial_load", table=table):
                sinks.write_keyed_target(
                    self._initial(src, table), path, "rsbsa_no", N_BUCKETS
                )
            self.sources[table] = src
            self.targets[table] = path
            self.ckpts[table] = os.path.join(ctx.work, "checkpoints", table)
            files = _parquet_files(path)
            rows = sum(pq.read_metadata(f).num_rows for f in files)
            self.row_bytes[table] = sum(os.path.getsize(f) for f in files) / rows
            col = pq.read_table(
                os.path.join(ctx.sf_dir, f"{table}.parquet"), columns=[key]
            ).column(key).to_numpy()
            self.key_rows[table] = np.bincount(col)
            self.n_keys[table] = len(self.key_rows[table])

    def warm_up(self, ctx) -> None:
        """``WARMUP_TICKS`` untraced ticks: the streaming engine's
        first-use costs belong to set-up, not to an op."""
        tracing, ctx.tracer.enabled = ctx.tracer.enabled, False
        for _ in range(WARMUP_TICKS):
            self.run_op(ctx, "tick", False)
        ctx.tracer.enabled = tracing
        self.ticks.clear()

    def check(self, ctx) -> dict[str, str]:
        return {}

    def warm_more(self, ctx) -> None:
        """nothing: the warm-up ticks are part of set-up."""

    def rounds(self, rng: random.Random):
        while True:
            yield ["tick"]

    # -- one op ----------------------------------------------------------

    def _append_change_file(self) -> dict[str, list[str]]:
        """write one seeded change-log file: valid rows for both
        tables (with hot keys repeated), rows with no key or no
        table, and rows routed to a table nothing syncs."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = self.rng
        log_ids, keys, tables = [], [], []
        routed: dict[str, list[str]] = {t: [] for t in SYNC_TABLES}
        for _ in range(RECORDS_PER_TICK):
            u = rng.random()
            table = "customer" if rng.random() < 0.5 else "lineitem"
            n = self.n_keys[table]
            # a small hot set of keys recurs across ticks
            k = int(rng.integers(0, 16)) if rng.random() < 0.3 else int(rng.integers(0, n))
            key = str(k)
            if u < 0.1:
                key = None
            elif u < 0.15:
                table = None
            elif u < 0.2:
                table = "parcel"
            self._log_id += 1
            log_ids.append(self._log_id)
            keys.append(key)
            tables.append(table)
            if key is not None and table in routed:
                routed[table].append(key)
        name = f"tick-{self._log_id:08d}.parquet"
        staged = os.path.join(self.stage_dir, name)
        pq.write_table(
            pa.table({
                "log_id": pa.array(log_ids, pa.int64()),
                "rsbsa_no": pa.array(keys, pa.string()),
                "table": pa.array(tables, pa.string()),
            }),
            staged,
        )
        os.replace(staged, os.path.join(self.log_dir, name))
        return routed

    def run_op(self, ctx, key: str, traced: bool) -> tuple[float, bool]:
        from rsbsa_etl_spark.streaming.sync_stream import sync_stream

        routed = self._append_change_file()
        for table, ks in routed.items():
            self.valid_keys[table].update(ks)
        before = {t: _file_sizes(p) for t, p in self.targets.items()}
        queries = {}
        tr = ctx.tracer
        t0 = time.perf_counter()
        ok = True
        with tr.span("tick"):
            for table in SYNC_TABLES:
                with tr.span("streaming.sync_stream", table=table):
                    q = sync_stream(
                        ctx.spark, self.log_dir, self.sources[table],
                        self.targets[table], table, self.ckpts[table],
                        n_buckets=N_BUCKETS,
                    )
                queries[table] = q
                ok = ok and q.exception() is None
        dt = time.perf_counter() - t0
        self.ticks.append(self._tick_record(ctx, dt, routed, before, queries))
        return dt, ok

    def _tick_record(self, ctx, dt, routed, before, queries) -> dict:
        rec = {"wall_s": dt, "add_batch_s": 0.0, "commit_s": 0.0,
               "trigger_s": 0.0, "input_rows": 0, "jobs": 0, "tasks": 0,
               "bytes": 0, "files": 0, "buckets": 0, "fetched_bytes": 0.0}
        for table, q in queries.items():
            for p in q.recentProgress:
                d = p.get("durationMs", {})
                rec["add_batch_s"] += d.get("addBatch", 0) / 1e3
                rec["commit_s"] += (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3
                rec["trigger_s"] += d.get("triggerExecution", 0) / 1e3
                rec["input_rows"] += p.get("numInputRows", 0)
            jobs, tasks = jobs_and_tasks(ctx.spark, str(q.runId))
            rec["jobs"] += jobs
            rec["tasks"] += tasks
            new = {
                f: s for f, s in _file_sizes(self.targets[table]).items()
                if f not in before[table]
            }
            rec["bytes"] += sum(new.values())
            rec["files"] += len(new)
            rec["buckets"] += len({os.path.dirname(f) for f in new})
            fetched = sum(
                int(self.key_rows[table][int(k)]) for k in set(routed[table])
            )
            rec["fetched_bytes"] += fetched * self.row_bytes[table]
        rec["change_rows"] = RECORDS_PER_TICK
        return rec

    # -- final check -----------------------------------------------------

    def final_check(self, ctx) -> str | None:
        """the final targets must equal a DuckDB replay of every
        change file over the initial target and the source."""
        import duckdb
        import pandas as pd

        con = duckdb.connect()
        try:
            con.execute("SET threads=2")
            for table, (key, cols) in SYNC_TABLES.items():
                src_file = _glob_src(ctx.sf_dir, table)
                vals = ", ".join(cols)
                if table == "customer":
                    src = (f"SELECT CAST({key} AS VARCHAR) AS rsbsa_no, "
                           f"upper(c_name) AS c_name, upper(c_mktsegment) AS c_mktsegment "
                           f"FROM read_parquet('{src_file}')")
                    init = (f"SELECT CAST({key} AS VARCHAR) AS rsbsa_no, "
                            f"lower(c_name) AS c_name, c_mktsegment "
                            f"FROM read_parquet('{src_file}')")
                else:
                    src = (f"SELECT CAST({key} AS VARCHAR) AS rsbsa_no, {vals} "
                           f"FROM read_parquet('{src_file}')")
                    init = src + " WHERE l_linenumber <= 2"
                changed = pd.DataFrame(
                    {"k": sorted(self.valid_keys[table])}, dtype=object
                )
                con.register("changed", changed)
                got = (f"SELECT rsbsa_no, {vals} FROM "
                       f"read_parquet('{self.targets[table]}/*/*.parquet')")
                want = (f"SELECT * FROM ({init}) WHERE rsbsa_no NOT IN "
                        f"(SELECT k FROM changed) UNION ALL "
                        f"SELECT * FROM ({src}) WHERE rsbsa_no IN (SELECT k FROM changed)")
                diff = con.execute(
                    f"SELECT (SELECT count(*) FROM (({got}) EXCEPT ALL ({want}))) + "
                    f"(SELECT count(*) FROM (({want}) EXCEPT ALL ({got})))"
                ).fetchone()[0]
                con.unregister("changed")
                if diff:
                    return f"{table}: {diff} rows differ from the replay"
        finally:
            con.close()
        return None

    # -- per-layer figures -----------------------------------------------

    def layer_metrics(self, tr) -> dict[str, float]:
        ticks = self.ticks
        n = max(1, len(ticks))
        change_rows = sum(t["change_rows"] for t in ticks)
        return {
            "spark.exec_jobs": _mean(t["jobs"] for t in ticks),
            "spark.exec_tasks": _mean(t["tasks"] for t in ticks),
            "streaming.add_batch_s": _mean(t["add_batch_s"] for t in ticks),
            "streaming.commit_s": _mean(t["commit_s"] for t in ticks),
            "streaming.tick_overhead_s": _mean(
                t["wall_s"] - t["trigger_s"] for t in ticks
            ),
            "streaming.input_rows_per_change_row": (
                sum(t["input_rows"] for t in ticks) / max(1, change_rows)
            ),
            "sinks.overwrite_s": tr.totals("sinks.overwrite_by_key_into")[1] / n,
            "sinks.bytes_written": _mean(t["bytes"] for t in ticks),
            "sinks.files_written": _mean(t["files"] for t in ticks),
            "sinks.buckets_rewritten": _mean(t["buckets"] for t in ticks),
            "sinks.write_amp": (
                sum(t["bytes"] for t in ticks)
                / max(1.0, sum(t["fetched_bytes"] for t in ticks))
            ),
        }


WORKLOADS = {
    "reference_mix": lambda: KeyMix("reference_mix", REFERENCE_KEYS),
    "retrieval_mix": lambda: KeyMix("retrieval_mix", RETRIEVAL_KEYS),
    "sync_ticks": SyncTicks,
}


def _parquet_files(path: str) -> list[str]:
    out = []
    for d, _dirs, files in os.walk(path):
        out.extend(os.path.join(d, f) for f in files if f.endswith(".parquet"))
    return out


def _file_sizes(path: str) -> dict[str, int]:
    return {f: os.path.getsize(f) for f in _parquet_files(path)}


def _glob_src(sf_dir: str, table: str) -> str:
    p = os.path.join(sf_dir, f"{table}.parquet")
    return f"{p}/*.parquet" if os.path.isdir(p) else p


def quantile(vals: list[float], q: float) -> float:
    """Harrell-Davis estimate of the ``q`` quantile (``q`` in (0, 1)):
    a Beta-weighted average of all order statistics. At a few dozen
    samples from a mix of keys it moves far less between runs than a
    single order statistic does."""
    import numpy as np

    x = np.sort(np.asarray(vals, dtype=float))
    n = len(x)
    if n == 1:
        return float(x[0])
    a, b = q * (n + 1), (1 - q) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20001)[1:-1]
    pdf = np.exp((a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid))
    cdf = np.concatenate(([0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)))
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, grid, cdf)
    return float(np.dot(np.diff(edges), x))
