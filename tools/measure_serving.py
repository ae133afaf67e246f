#!/usr/bin/env python
"""Persisted-IVF serving amortization measurement (r9 verdict item 2,
carried through r10 → landed r11).

The ``ann_*`` registry keys rebuild their index inside every query
plan — correct for a one-shot benchmark, priced wrong for the
production build-once / query-many pattern that
``sources/ann_index.py`` exists for. Until now the amortization
claim was ARGUED (plan shows PartitionFilters) but not MEASURED.
This harness prices it:

1. BUILD once at the target sf (``build_ivf_index`` with √n cells —
   the scale-story geometry, not the sf0.001-test default of 16);
2. SERVE N query batches against the persisted index
   (``query_ivf_index``), recording per-batch wall, the probed cell
   count, and bytes-on-disk of the probed partition directories vs
   the full members table (what PartitionFilters actually skips);
3. CONTROL A — the same batches with ``prune=False``: identical
   result, every partition read (prices pruning alone);
4. CONTROL B — the same batches via in-plan ``ivf_topk`` (index
   rebuilt inside every query plan: the rebuild-per-batch cost the
   persisted index amortizes away);
5. FRESHNESS — ``append_to_ivf_index`` one batch of new vectors,
   re-serve, and check the new ids are reachable: the append path's
   cost and the no-rebuild pickup, timed.

Every serving result is cross-checked against the in-plan
``ivf_topk`` ranking (same semantics, two physical strategies) —
a timing harness that silently serves wrong rankings is worthless.

Usage:
    python tools/gen_sf.py --sf 1 --out /tmp/sfgen/sf1
    python tools/measure_serving.py --sf-dir /tmp/sfgen/sf1 \
        [--batches 20] [--batch-size 5] [--out FILE]

Output: one JSON blob (also written to --out) whose summary feeds
the SCALING.md round-11 serving table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _probed_cells(path: str, query_vecs, nprobe: int) -> list[int]:
    """the cells query_ivf_index probes (the same
    ``_py_nearest_cells`` rule), computed here to price the pruned
    directories without touching the served plan."""
    from pyspark.sql import SparkSession

    from rsbsa_etl_spark.functions.similarity import _py_nearest_cells

    spark = SparkSession.getActiveSession()
    cents = sorted(
        (r["cid"], [float(x) for x in r["embedding"]])
        for r in spark.read.parquet(os.path.join(path, "centroids")).collect()
    )
    return sorted(
        {
            cid
            for _qid, vec in query_vecs
            for cid in _py_nearest_cells([float(x) for x in vec], cents, nprobe)
        }
    )


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--sf-dir", default="/tmp/sfgen/sf1")
    ap.add_argument("--batches", type=int, default=20)
    ap.add_argument("--batch-size", type=int, default=5)
    ap.add_argument("--index-dir", default="/tmp/ivf_serving_index")
    ap.add_argument("--out", default="/tmp/serving_measure.json")
    args = ap.parse_args()

    from pyspark.sql import SparkSession, functions as F

    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "16g")
        .config("spark.ui.enabled", "false")
        .appName("measure_serving")
        .getOrCreate()
    )
    from rsbsa_etl_spark.functions.similarity import IVF_NPROBE, ivf_topk
    from rsbsa_etl_spark.sources.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
        query_vectors_from_table,
    )

    emb = spark.read.parquet(os.path.join(args.sf_dir, "embeddings.parquet"))
    n = emb.count()
    n_cells = max(16, int(n**0.5))
    report: dict = {
        "sf_dir": args.sf_dir,
        "n_vectors": n,
        "n_centroids": n_cells,
        "nprobe": IVF_NPROBE,
        "batches": args.batches,
        "batch_size": args.batch_size,
    }

    # ---- 1. build once --------------------------------------------------
    idx = args.index_dir
    if os.path.exists(idx):
        import shutil

        shutil.rmtree(idx)
    t0 = time.perf_counter()
    build_ivf_index(emb, idx, n_centroids=n_cells)
    report["build_wall_s"] = round(time.perf_counter() - t0, 3)
    total_bytes = _dir_bytes(os.path.join(idx, "members"))
    report["members_bytes"] = total_bytes

    # disjoint query-id batches, all above the centroid seed range so
    # append/freshness can reuse the same split
    rng_base = n_cells
    batches = [
        [rng_base + b * args.batch_size + i for i in range(args.batch_size)]
        for b in range(args.batches)
    ]

    served_walls, control_walls, rebuild_walls = [], [], []
    probed_counts, probed_bytes = [], []
    mismatches = 0
    for ids in batches:
        qv = query_vectors_from_table(emb, ids)
        cells = _probed_cells(idx, qv, IVF_NPROBE)
        probed_counts.append(len(cells))
        probed_bytes.append(
            sum(
                _dir_bytes(os.path.join(idx, "members", f"cid={c}"))
                for c in cells
            )
        )
        # ---- 2. serve (pruned) ------------------------------------------
        t0 = time.perf_counter()
        served = query_ivf_index(spark, idx, qv).collect()
        served_walls.append(time.perf_counter() - t0)
        # ---- 3. control A: no pruning -----------------------------------
        t0 = time.perf_counter()
        full = query_ivf_index(spark, idx, qv, prune=False).collect()
        control_walls.append(time.perf_counter() - t0)
        # ---- 4. control B: in-plan rebuild per batch ---------------------
        t0 = time.perf_counter()
        rebuilt = ivf_topk(
            emb, query_ids=ids, n_centroids=n_cells
        ).collect()
        rebuild_walls.append(time.perf_counter() - t0)
        spark.catalog.clearCache()
        if {tuple(r) for r in served} != {tuple(r) for r in rebuilt}:
            mismatches += 1
        if {tuple(r) for r in served} != {tuple(r) for r in full}:
            mismatches += 1

    def _avg(xs):
        return round(sum(xs) / len(xs), 3)

    report.update(
        serve_wall_avg_s=_avg(served_walls),
        serve_wall_first_s=round(served_walls[0], 3),
        noprune_wall_avg_s=_avg(control_walls),
        rebuild_wall_avg_s=_avg(rebuild_walls),
        probed_cells_avg=_avg(probed_counts),
        probed_bytes_avg=int(sum(probed_bytes) / len(probed_bytes)),
        bytes_read_fraction=round(
            sum(probed_bytes) / len(probed_bytes) / total_bytes, 4
        ),
        result_mismatches=mismatches,
        amortized_total_s=round(
            report["build_wall_s"] + sum(served_walls), 3
        ),
        rebuild_total_s=round(sum(rebuild_walls), 3),
        breakeven_batches=(
            round(
                report["build_wall_s"]
                / max(1e-9, _avg(rebuild_walls) - _avg(served_walls)),
                2,
            )
            if _avg(rebuild_walls) > _avg(served_walls)
            else None
        ),
    )

    # ---- 5. freshness: append a synthetic batch, re-serve ---------------
    # append exact copies (new ids) of batch-0's query vectors: each
    # copy has cosine 1.0 to its query, so it MUST surface at rank 1
    # in the re-served batch — a deterministic visibility check
    top_id = emb.agg(F.max("vec_id")).first()[0]
    new = emb.where(
        F.col("vec_id").between(rng_base, rng_base + args.batch_size - 1)
    ).select(
        (F.col("vec_id") + F.lit(int(top_id) + 1)).alias("vec_id"),
        "embedding",
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    )
    t0 = time.perf_counter()
    append_to_ivf_index(new, idx)
    report["append_wall_s"] = round(time.perf_counter() - t0, 3)
    qv = query_vectors_from_table(emb, batches[0])
    t0 = time.perf_counter()
    after = query_ivf_index(spark, idx, qv).collect()
    report["serve_after_append_wall_s"] = round(time.perf_counter() - t0, 3)
    appended_ids = {int(r["vec_id"]) for r in new.collect()}
    report["appended_visible"] = any(
        int(r["neighbor_id"]) in appended_ids for r in after
    )

    blob = json.dumps(report, indent=1)
    print(blob)
    with open(args.out, "w") as f:
        f.write(blob + "\n")


if __name__ == "__main__":
    main()
