#!/usr/bin/env python
"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...},
     "sf": ..., "cpus": k, ...}

Each query is built and materialized with ``df.count()``, best of 3
repeats (2 under ``--sf1-headline``), after a warm-up of the input
file listing and the Python worker pool — we time the engine, not the
JVM cold start. ``cpus`` is the k of the session's ``local[k]``. The
full per-key map goes to BENCH_FULL.json (BENCH_SF1.json under
``--sf1-headline``). When the record it replaces was taken at the same
``sf`` on the same ``cpus``, the new record also carries the raw total
ratio over the keys both timed (``common_set_*``); a record at another
scale or core count does not compare. Speed claims come from
interleaved same-session A/B runs; this ratio only corroborates them.
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
#: bench can hide a data-bound regression behind the fixed per-key
#: overhead; one decade up, the expensive keys are data-bound enough
#: to show it.
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


def read_record(path: str) -> dict | None:
    """the bench record at ``path``, or None when it is missing or
    not valid JSON."""
    try:
        with open(path) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def common_set_comparison(
    prev: dict | None, timings: dict[str, float], sf: float | None, cpus: int
) -> dict:
    """raw total ratio over the keys this run and the previous record
    both timed, or {} when the two do not compare: no previous record,
    or one taken at another ``sf`` (a one-off sf0.01 run would make
    the ratio a ~10x artifact) or on another core count."""
    if not (
        isinstance(prev, dict)
        and isinstance(prev.get("queries"), dict)
        and prev.get("sf") == sf
        and prev.get("cpus") == cpus
    ):
        return {}
    common = [k for k in timings if k in prev["queries"]]
    prev_sum = sum(prev["queries"][k] for k in common)
    now_sum = sum(timings[k] for k in common)
    if not common or prev_sum <= 0:
        return {}
    return {
        "common_set_n": len(common),
        "common_set_prev_sec": round(prev_sum, 3),
        "common_set_now_sec": round(now_sum, 3),
        "common_set_ratio_raw": round(now_sum / prev_sum, 3),
    }


def main() -> None:
    sf1_mode = "--sf1-headline" in sys.argv
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    if sf1_mode:
        sf_dir = _ensure_sf1_fixture()

    from rsbsa_etl_spark.registry import QUERIES
    from rsbsa_etl_spark.session import get_spark

    spark = get_spark(app_name="rsbsa_bench")
    cpus = int(spark.sparkContext.master[len("local["):-1])

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
    repeats = 2 if sf1_mode else 3

    # OS load average BEFORE this run's own work: external tenant load
    # on the shared host steals a slice of every stage, so a reader
    # comparing two records can see whether the host was busy
    load_1m, load_5m, _ = os.getloadavg()
    timings: dict[str, float] = {}
    bench_keys = (
        SF1_HEADLINE + SF1_HEADLINE_V2 if sf1_mode else HEADLINE
    )
    for name in bench_keys:
        samples = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            QUERIES[name](spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        timings[name] = round(min(samples), 3)
        # several operators persist() intermediates (LSH bands, fuzzy
        # variants, PageRank edges); each bench call pins a fresh copy
        # and the accumulation evicts/GC-thrashes later queries —
        # measured 5x slowdowns late in the run. Clear between queries
        # so each is timed against an empty cache.
        spark.catalog.clearCache()

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
    record = {
        "metric": "sf1_headline_total" if sf1_mode else "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_val,
        "cpus": cpus,
        "n_queries": len(timings),
        "load_avg_prerun": [round(load_1m, 2), round(load_5m, 2)],
        **v2_fields,
        # read before the write below replaces the previous record
        **common_set_comparison(read_record(full_path), timings, sf_val, cpus),
    }
    with open(full_path, "w") as fh:
        json.dump(record, fh, indent=1)

    # Final stdout line stays compact (slowest 10 only) so the tail
    # capture can always parse it.
    slowest = dict(
        sorted(timings.items(), key=lambda kv: kv[1], reverse=True)[:10]
    )
    print(
        json.dumps(
            {**record, "queries": slowest, "full": os.path.basename(full_path)},
            separators=(",", ":"),
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
