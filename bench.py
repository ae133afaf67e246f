#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with ``df.count()`` after a warm-up of the
input file listing — we time the engine, not the JVM cold start.
"""

from __future__ import annotations

import json
import os
import sys
import time

HEADLINE = [
    # relational core
    "agg_sum_groups",      # TPC-H-Q1-shaped flagship
    "join_bridge_2step",   # 3-way join
    "join_semi",
    "upsert_merge",        # CDC merge semantics
    "overwrite_by_key",
    "sync_pipeline_o2m",   # full §3.1 pipeline end-to-end
    "window_session",          # sessionization (window functions)
    "window_session_chunked",  # its hot-key dial (bit-identical)
    "window_tumbling",
    "topk_recent",
    # extension surface
    "dedup_exact",
    "dedup_minhash",       # LSH candidate generation
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "dedup_embedding",
    "dedup_semantic",
    "ann_bruteforce",
    "ann_lsh",
    "ann_lsh_multiprobe",
    "ann_ivf",
    # ann_recall + ann_mrr each rebuilt the same 4 index plans; the
    # consolidated ann_eval computes both metrics from ONE persisted
    # set of scans (r7 verdict item 5) — the standalone keys stay
    # registered and oracle-checked, the sweep runs the cheap form
    "ann_eval",
    "lang_id",
    "quality_score",
    "token_count",
    "lm_score",
    "fuzzy_match",
    "join_asof",
    "distinct_sketch",
    "embedding_centroids",
    "ivf_train",
    "ivf_train2",
    "cms_topk",
    "window_time_range",
    "merge_cdc",
    "sample_stratified",
    "sample_weighted",
    "agg_cube",
    "dedup_minhash_capped",
    "dedup_minhash_est",
    "dedup_incremental",
    "decontam_fuzzy",
    "knn_graph",
    "knn_graph_ivf",
    "embedding_outliers",
    "split_assign",
    "tfidf_topk",
    "agg_pivot",
    "agg_unpivot",
    "join_range",
    "join_skew_salted",
    "ivf_train3",
    "quantile_sketch",
    "window_lag_delta",
    "set_except_intersect",
    "agg_ols_slope",
    "udtf_chunk_tokens",
    "graph_pagerank",
    "join_full_outer_nullsafe",
    "agg_incremental_totals",
    "repetition_score",
    "decontam_ngram",
    "pack_sequences",
    "pii_redact",
    "sample_temperature",
    "dedup_segments",
    "window_ntile",
    "agg_grouping_sets",
    "join_spatial_grid",
    "validate_domains",
    "join_temporal_validity",
    "agg_time_rollup",
    "window_first_last",
    "profile_stats",
    "corr_groups",
    "events_funnel",
    "events_dau_mau",
    "retention_cohort",
    "ngram_topk",
    "dedup_priority",
    "event_transitions",
    "group_topk",
    "activity_histogram",
    "shuffle_shards",
    "mix_interleave",
    "agg_filtered_multi",
    "embedding_quantize",
    "tpch_q1",
    "tpch_q2",
    "outlier_mad",
    "hhi_concentration",
    "embedding_pq",
    "ann_ivfpq",
    "tpch_q3",
    "tpch_q4",
    "tpch_q5",
    "tpch_q6",
    "tpch_q7",
    "tpch_q8",
    "tpch_q9",
    "tpch_q10",
    "tpch_q11",
    "tpch_q15",
    "tpch_q16",
    "tpch_q17",
    "tpch_q18",
    "tpch_q19",
    "tpch_q20",
    "tpch_q21",
    "tpch_q22",
    "tpch_q12",
    "tpch_q13",
    "tpch_q14",
    "bm25_topk",
    "sync_metrics",
    "vocab_coverage",
    "dedup_containment",
    "dedup_containment_capped",
    "snapshot_diff",
    "resample_ffill",
    "ab_ttest",
    "agg_string_concat",
    "rolling_active",
    "inverted_index",
    "term_pmi",
    "skew_stats",
    "window_cumdistinct",
    "curation_pipeline",
    "join_bloom_pruned",
    "sample_token_budget",
    "quality_adaptive",
    "compact_plan",
    "burst_detect",
    "novelty_score",
    "sample_fixed_n",
    "sketch_merge",
    "group_sample_n",
    "bpe_pairs",
    "lang_confusion",
    "multimodal_resize",
    "window_gap_islands",
    "join_bucketed",
    "ts_decompose",
    "scan_partition_pruned",
    "corpus_summary",
    "tokenize_offsets",
    "rfm_segments",
    "hard_negatives",
    "graph_triangles",
    "graph_triangles_ivf",
    "ts_autocorr",
    "k_anonymity",
    "feature_hashing",
    "quantile_bucketize",
    "stream_cdc_apply",
    "window_rolling_median",
    "state_durations",
    "dedup_spans",
    "dedup_spans_intra",  # within-doc repeated spans (round 13)
    "dedup_spans_intra_cut",  # apply the within-doc cut (round 13)
    "dedup_embedding_incremental",
    "bpe_train",
    "bpe_segment",
    "tokenizer_fertility_bpe",  # trained-BPE fertility (round 11)
    "hybrid_search_rrf",
    "mmr_rerank",
    "mmr_rerank_ivf",  # IVF-pool MMR composition (round 12)
    "prf_requery",  # PRF re-retrieval final pass (round 12)
    "decontam_embedding",  # embedding-arm decontamination (round 12)
    "context_pack",  # budgeted context assembly after MMR (round 12)
    "decontam_spans",  # span-level eval-leak decontamination (round 12)
    "decontam_spans_cut",  # apply the eval-leak cut (round 13)
    "decontam_report",  # composed drop/cut/keep decision table (round 13)
    "dsir_weights",
    "dsir_resample",
    "rocchio_classify",
    "fingerprint_winnow",
    "bootstrap_ci",
    "ab_cuped",
    # (ann_mrr folded into ann_eval above)
    "hybrid_mmr",
    "prf_expand",
    "dedup_spans_cut",
    "dedup_recall",
    "l_diversity",
    "ts_changepoint",
    "benford_digits",
    "ab_kstest",
    # round-6 additions
    "value_ecdf",
    "sketch_hll",
    "window_ewma",
    "skyline_pareto",
    "source_overlap_kmv",
    "ab_chisq",
    "seq_trigrams",
    "basket_pairs",
    "attribution_first_touch",
    "trend_theil_sen",
    "stream_hll",
    "trend_theil_sen_capped",
    "resample_interpolate",
    "group_percentiles",
    "join_nearest",
    "window_zscore_rolling",
    # round-7 additions
    "source_overlap_kmv_sketch",
    "winsorize_stats",
    "token_gini",
    "scan_jsonl_corrupt",
    "scan_csv_typed",
    "scan_schema_evolution",
    "scan_orc_roundtrip",
    # round-9 additions (sample_stratified already listed above)
    "mix_epochs",
    "hard_negatives_ivf",
    "ann_index_roundtrip",
    "tokenizer_fertility",
    "text_strip_markup",
    # round-14 additions: the measured auto-dial family (MMR pool,
    # containment, jaccard, knn-graph), the explicit jaccard capped
    # arm, and the revived rate-based stratified sampler
    "mmr_rerank_auto",
    "dedup_containment_auto",
    "sample_stratified_rates",
    "dedup_jaccard_capped",
    "dedup_jaccard_auto",
    "knn_graph_auto",
    "trend_theil_sen_auto",
    # round 15
    "dedup_embedding_auto",
    "ann_geometry",
]

#: ``--sf1-headline`` key set (round 12, r11 verdict item 7): the
#: top-20 most expensive keys of the r11 sf0.1 record, FROZEN so the
#: once-per-round sf1 record compares the same work across rounds.
#: Rationale: the TPC-H decade rows (SCALING.md) measured sf0.1 as
#: overhead-dominated (growth exponents 0.32-0.84), so a pure-sf0.1
#: bench can hide a data-bound regression behind the per-key floor;
#: one decade up, the expensive keys are data-bound enough to show it.
SF1_HEADLINE = [
    "ann_eval", "hybrid_mmr", "ann_index_roundtrip",
    "curation_pipeline", "dedup_containment", "prf_expand",
    "trend_theil_sen", "source_overlap_kmv", "ann_ivfpq",
    "graph_pagerank", "ivf_train3", "hard_negatives_ivf",
    "stream_hll", "dedup_incremental", "knn_graph_ivf",
    "ann_ivf", "ivf_train2", "fuzzy_match",
    "dedup_containment_capped", "dedup_simhash",
]

#: second sf1 key set (r15, r14 verdict item 5): v1 is FROZEN at the
#: r11 draw for three-point lineage, which means the r12-r15
#: families (auto-dials, span-intra, decontam_report, prf_requery)
#: had no decade-up instrument. v2 is drawn from the r14 sf0.1
#: record: the ten named newest-family keys plus the most expensive
#: keys not already in v1, and the r15 dedup_embedding_auto so the
#: newest dial gets a decade line from birth. Benched ALONGSIDE v1
#: in --sf1-headline mode (one run, both totals; each set keeps its
#: own lineage field so v1's three-point trend stays intact).
SF1_HEADLINE_V2 = [
    "prf_requery", "dedup_containment_auto", "trend_theil_sen_auto",
    "dedup_jaccard_capped", "dedup_jaccard_auto", "mmr_rerank_auto",
    "dedup_spans_intra", "knn_graph_auto", "decontam_report",
    "sample_stratified_rates", "dedup_embedding_auto",
    "mmr_rerank_ivf", "stream_cdc_apply", "basket_pairs",
    "context_pack", "term_pmi", "dedup_spans", "dedup_recall",
    "sync_pipeline_o2m", "group_percentiles",
]

#: where the sf1 fixture lives / is generated (same generator and
#: location as SCALING.md's decade measurements and the sf1 parity
#: tests — tools/gen_sf.py is deterministic at a fixed seed)
SF1_DIR = "/tmp/sfgen/sf1"


def _ensure_sf1_fixture() -> str:
    """generate the sf1 fixture on demand (~15 s one-off; reused
    across runs — the generator is seed-deterministic)."""
    import subprocess

    root = os.path.dirname(os.path.abspath(__file__))
    if not os.path.exists(os.path.join(SF1_DIR, "embeddings.parquet")):
        subprocess.run(
            [sys.executable, os.path.join(root, "tools", "gen_sf.py"),
             "--sf", "1.0", "--out", SF1_DIR],
            check=True, cwd=root,
        )
    return SF1_DIR


def _probe_floors(spark, sf_dir: str, best_of: int = 2) -> tuple[float, float]:
    """One (scan_floor, cpu_floor) sample of the CURRENT host window.

    r15 (r14 verdict item 1): the start-of-run floors cannot see
    mid-run tenant arrivals — five same-tree r14 runs spread
    125-171 s from load that landed AFTER calibration. The bench now
    re-probes every SPARK_GRAFT_FLOOR_EVERY keys and records which
    probe segment each key ran in, so (a) the record carries its own
    intra-run drift, and (b) round-over-round comparison can
    normalize PER KEY against the floor context that key actually
    experienced. The cpu probe is the axis that tracks external
    32-thread contention (the r7 observation: tenant load leaves the
    IO-bound scan floor nearly untouched while stealing a
    proportional slice of every wide stage)."""
    f = float("inf")
    for _ in range(best_of):
        t0 = time.perf_counter()
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).count()
        f = min(f, time.perf_counter() - t0)
    c = float("inf")
    for _ in range(best_of):
        t0 = time.perf_counter()
        spark.range(20_000_000).selectExpr(
            "xxhash64(id) % 1024 AS k", "id AS v"
        ).groupBy("k").sum("v").count()
        c = min(c, time.perf_counter() - t0)
    return round(f, 3), round(c, 3)


def main() -> None:
    sf1_mode = "--sf1-headline" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    if sf1_mode:
        sf_dir = _ensure_sf1_fixture()

    from rsbsa_etl_spark.registry import QUERIES
    from rsbsa_etl_spark.session import get_spark

    spark = get_spark(app_name="rsbsa_bench")

    # warm-up: JVM + file listing + parquet footers + Python worker
    # pool (mapInPandas paths fork one worker per core on first use —
    # process spawn, not query work), none of which is engine time
    QUERIES["scan_project"](spark, sf_dir).count()
    spark.range(1024).repartition(64).mapInPandas(
        lambda it: it, "id long"
    ).count()

    # best-of-N per query: the host is shared and noisy, and a single
    # timing can be 30-50% off; the min over repeats estimates the
    # engine's actual cost (repeat 1 also warms each query's own scan)
    repeats = max(
        1,
        int(
            os.environ.get(
                "SPARK_GRAFT_BENCH_REPEATS", "2" if sf1_mode else "3"
            )
        ),
    )

    # host-noise calibration: warm-scan + cpu floors, best-of-3 at
    # start of run. Query code never touches these numbers — they
    # move only with the environment (the r4 record was globally
    # ~1.5x slow purely from a degraded host window), so readers can
    # normalize cross-round comparisons against the floor ratio of
    # the two records, not 1.0. Since r15 the floors are ALSO
    # re-probed mid-run (see _probe_floors): the start-of-run floor
    # cannot see mid-run tenant arrivals.
    scan_floor, cpu_floor = _probe_floors(spark, sf_dir, best_of=3)
    # third calibration axis: OS load average BEFORE this run's own
    # work — external tenant load on the shared host steals a roughly
    # proportional slice from every 32-thread stage while leaving the
    # IO-bound scan floor (and a short cpu probe) nearly untouched;
    # round 7 measured a broad ~10% query drift at BETTER floors that
    # matched a 3.9/32 background load exactly. Recorded so future
    # cross-round comparisons can see all three environment axes.
    load_1m, load_5m, _ = os.getloadavg()
    probe_every = int(os.environ.get("SPARK_GRAFT_FLOOR_EVERY", "25"))
    floor_probes: list[dict] = [
        {"after_n_keys": 0, "scan": scan_floor, "cpu": cpu_floor}
    ]
    key_floor_seg: dict[str, int] = {}
    key_spread: dict[str, float] = {}
    timings: dict[str, float] = {}
    bench_keys = (
        SF1_HEADLINE + SF1_HEADLINE_V2 if sf1_mode else HEADLINE
    )
    for i, name in enumerate(bench_keys):
        if probe_every and i and i % probe_every == 0:
            s, c = _probe_floors(spark, sf_dir)
            floor_probes.append({"after_n_keys": i, "scan": s, "cpu": c})
        samples = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(min(samples), 3)
        key_floor_seg[name] = len(floor_probes) - 1
        if repeats > 2:
            # repeat-to-repeat spread of THIS key in THIS run — the
            # within-run sampling noise the best-of-N min rides on.
            # The FIRST repeat is excluded: it warms the key's own
            # scan/plan and measures warmup, not noise (at small SFs
            # it dominates: ~2x the warm repeats).
            warm = samples[1:]
            if min(warm) > 0:
                key_spread[name] = round(
                    (max(warm) - min(warm)) / min(warm), 3
                )
        # several operators persist() intermediates (LSH bands, fuzzy
        # variants, PageRank edges); each bench call pins a fresh copy
        # and the accumulation evicts/GC-thrashes later queries —
        # measured 5x slowdowns late in the run. Clear between queries
        # so each is timed against an empty cache.
        spark.catalog.clearCache()

    # headline floors = the BEST window observed across all probes
    # (the true floor of this run's environment); intra-run drift =
    # worst/best probe ratio per axis — the record's own evidence of
    # mid-run tenant arrivals the start-of-run calibration missed.
    scan_floor = min(p["scan"] for p in floor_probes)
    cpu_floor = min(p["cpu"] for p in floor_probes)

    def _med(vals: list) -> float:
        s = sorted(vals)
        return s[len(s) // 2]

    floor_drift = {
        # max/min — the worst window this run saw (a spike detector)
        "scan": round(max(p["scan"] for p in floor_probes) / scan_floor, 3),
        "cpu": round(max(p["cpu"] for p in floor_probes) / cpu_floor, 3),
        # median/min — SUSTAINED elevation (robust to one GC-pause
        # probe; tenant load that matters holds for minutes and lifts
        # several consecutive probes, which moves the median)
        "scan_med": round(
            _med([p["scan"] for p in floor_probes]) / scan_floor, 3
        ),
        "cpu_med": round(
            _med([p["cpu"] for p in floor_probes]) / cpu_floor, 3
        ),
    }
    spreads = sorted(key_spread.values())
    dispersion = {
        "key_spread_median": spreads[len(spreads) // 2] if spreads else None,
        "key_spread_p90": (
            spreads[min(len(spreads) - 1, int(len(spreads) * 0.9))]
            if spreads
            else None
        ),
    }
    # the record's own error bar on the TOTAL, from the two noise
    # axes this run itself measured: median per-key warm-repeat
    # spread (within-run sampling noise) and SUSTAINED intra-run
    # floor drift (environment moved under the run; the median-based
    # drift, so one outlier probe cannot blow up the bar). Two
    # same-tree runs should agree within the sum of their bars
    # (validated r15, LOCAL_SWEEP_r15.md).
    error_bar_frac = round(
        max(
            dispersion["key_spread_median"] or 0.0,
            max(floor_drift["scan_med"], floor_drift["cpu_med"]) - 1.0,
        ),
        3,
    )

    # in sf1 mode the headline total stays the FROZEN v1 set (the
    # three-point lineage metric); v2 gets its own total field so
    # the newest families' decade trend starts this round without
    # disturbing v1's comparability.
    v2_fields: dict = {}
    if sf1_mode:
        total = round(sum(timings[k] for k in SF1_HEADLINE), 3)
        v2_fields = {
            "sf1_v2_total": round(
                sum(timings[k] for k in SF1_HEADLINE_V2), 3
            ),
            "sf1_v2_n": len(SF1_HEADLINE_V2),
        }
    else:
        total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    sf_val = float(sf) if sf else None

    # Full per-query map goes to a file — the driver's captured tail
    # truncates very long lines, which made r01/r02 BENCH unparseable.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH_SF1.json" if sf1_mode else "BENCH_FULL.json",
    )

    # Round-over-round comparison, machine-derived: before overwriting
    # the committed BENCH_FULL.json (the previous round's record),
    # compute the common-key-set total ratio — raw, and normalized by
    # the scan-floor ratio of the two windows, so "is this round
    # actually slower or was the host just busier" stops being a
    # hand-computed claim. Only comparable records compare: a prior
    # record at a DIFFERENT scale factor (e.g. a one-off sf0.01 run)
    # would make every ratio a bogus ~10x artifact, so the comparison
    # is emitted only when prev.sf == this run's sf.
    metric = "sf1_headline_total" if sf1_mode else "headline_queries_total"
    comparison: dict = {}
    try:
        with open(full_path) as fh:
            prev = json.load(fh)
    except (OSError, ValueError):
        prev = None
    if (
        prev
        and isinstance(prev.get("queries"), dict)
        and prev.get("sf") == sf_val
    ):
        common = [k for k in timings if k in prev["queries"]]
        prev_sum = sum(prev["queries"][k] for k in common)
        now_sum = sum(timings[k] for k in common)
        if common and prev_sum > 0:
            raw = now_sum / prev_sum
            pf = prev.get("scan_floor_sec")
            comparison = {
                "common_set_n": len(common),
                "common_set_prev_sec": round(prev_sum, 3),
                "common_set_now_sec": round(now_sum, 3),
                "common_set_ratio_raw": round(raw, 3),
                "prev_scan_floor_sec": pf,
            }
            if pf and scan_floor:
                comparison["common_set_ratio_normalized"] = round(
                    raw / (scan_floor / pf), 3
                )
            # r15: per-KEY floor normalization — each key's time is
            # rescaled by the cpu-floor ratio of the probe segment it
            # ran in (this run vs the previous record), so a tenant
            # spike that hit only the middle of one run no longer
            # smears the whole ratio (the r14 instrument hazard: five
            # same-tree runs spread 125-171 s). cpu floor is the axis
            # that tracks external 32-thread contention; requires the
            # previous record to carry per-key floor context (r15+).
            prev_probes = prev.get("floor_probes")
            prev_seg = prev.get("key_floor_seg")
            if (
                isinstance(prev_probes, list)
                and isinstance(prev_seg, dict)
                and all(p.get("cpu") for p in prev_probes)
            ):
                num = den = 0.0
                # r16 (r15 verdict item 7): the per-KEY keyfloor-
                # normalized ratio and a noise-robust status label,
                # emitted by the bench itself so round-over-round
                # improved/flat/regressed calls stop being computed
                # on raw seconds out of a drifting window. The label
                # band is each key's own measured warm-repeat spread
                # (both runs', when the previous record carries one)
                # with a 10% floor — a key is only "improved" or
                # "regressed" when its floor-normalized movement
                # exceeds what the two records themselves measured
                # as sampling noise.
                per_key_ratio: dict[str, float] = {}
                per_key_status: dict[str, str] = {}
                prev_spread = prev.get("key_spread") or {}
                for k in common:
                    if k not in prev_seg or k not in key_floor_seg:
                        continue
                    pc = prev_probes[prev_seg[k]]["cpu"]
                    nc = floor_probes[key_floor_seg[k]]["cpu"]
                    if not (pc and nc):
                        continue
                    num += timings[k] * (pc / nc)
                    den += prev["queries"][k]
                    if prev["queries"][k] > 0:
                        r = (timings[k] * (pc / nc)) / prev["queries"][k]
                        per_key_ratio[k] = round(r, 3)
                        band = max(
                            0.10,
                            float(key_spread.get(k, 0.0)),
                            float(prev_spread.get(k, 0.0)),
                        )
                        per_key_status[k] = (
                            "improved"
                            if r <= 1.0 - band
                            else ("regressed" if r >= 1.0 + band else "flat")
                        )
                if den > 0:
                    comparison["common_set_ratio_keyfloor_normalized"] = (
                        round(num / den, 3)
                    )
                    comparison["per_key_normalized_ratio"] = per_key_ratio
                    comparison["per_key_status"] = per_key_status
                    comparison["n_improved_normalized"] = sum(
                        1 for s in per_key_status.values() if s == "improved"
                    )
                    comparison["n_regressed_normalized"] = sum(
                        1 for s in per_key_status.values() if s == "regressed"
                    )

    with open(full_path, "w") as fh:
        json.dump(
            {
                "metric": metric,
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf_val,
                "n_queries": len(timings),
                "scan_floor_sec": scan_floor,
                "cpu_floor_sec": cpu_floor,
                "load_avg_prerun": [round(load_1m, 2), round(load_5m, 2)],
                "floor_probes": floor_probes,
                "key_floor_seg": key_floor_seg,
                "key_spread": key_spread,
                "floor_drift": floor_drift,
                "dispersion": dispersion,
                "error_bar_frac": error_bar_frac,
                **v2_fields,
                **comparison,
            },
            fh,
            indent=1,
        )

    # Final stdout line stays compact (slowest 10 only) so the tail
    # capture can always parse it; the per-key normalized maps stay
    # in the file record.
    slim_comparison = {
        k: v
        for k, v in comparison.items()
        if k not in ("per_key_normalized_ratio", "per_key_status")
    }
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    print(
        json.dumps(
            {
                "metric": metric,
                "value": total,
                "unit": "sec",
                "queries": slowest,
                "sf": sf_val,
                "n_queries": len(timings),
                "scan_floor_sec": scan_floor,
                "cpu_floor_sec": cpu_floor,
                "load_avg_prerun": [round(load_1m, 2), round(load_5m, 2)],
                "floor_drift": floor_drift,
                "error_bar_frac": error_bar_frac,
                **v2_fields,
                **slim_comparison,
                "full": os.path.basename(full_path),
            },
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
