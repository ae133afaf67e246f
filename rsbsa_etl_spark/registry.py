"""The driver contract: named queries, one per implemented operator
(SURVEY.md §2 keys + extension surface).

Every function takes ``(spark, sf_dir)`` and returns a DataFrame;
``oracles.ORACLES`` holds the matching DuckDB SQL built from the same
``params`` constants. Output discipline (SURVEY §7.3.4/§7.3.7):

- no raw timestamp columns — epochs (bigint) or formatted strings;
- money/double aggregates go through DECIMAL and come back as
  double, identically in the oracle;
- every computed column aliased the same on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

from rsbsa_etl_spark.families.relational import *  # noqa: F401,F403
from rsbsa_etl_spark.families.dedup import *  # noqa: F401,F403
from rsbsa_etl_spark.families.ann import *  # noqa: F401,F403
from rsbsa_etl_spark.families.text import *  # noqa: F401,F403
from rsbsa_etl_spark.families.curation import *  # noqa: F401,F403
from rsbsa_etl_spark.families.streaming import *  # noqa: F401,F403
from rsbsa_etl_spark.families.analytics import *  # noqa: F401,F403

# ------------------------------------------------------------------ registry

QUERIES: dict[str, QueryFn] = {
    "scan_filter_in": scan_filter_in,
    "scan_project": scan_project,
    "scan_incremental": scan_incremental,
    "agg_count_filtered": agg_count_filtered,
    "filter_notnull": filter_notnull,
    "filter_split_valid": filter_split_valid,
    "join_semi": join_semi,
    "join_anti": join_anti,
    "join_bridge_2step": join_bridge_2step,
    "join_dependent": join_dependent,
    "groupby_collect": groupby_collect,
    "distinct_keys": distinct_keys,
    "agg_sum_groups": agg_sum_groups,
    "sort_order": sort_order,
    "limit_offset": limit_offset,
    "topk_recent": topk_recent,
    "sort_zorder": sort_zorder,
    "scan_file_provenance": scan_file_provenance,
    "union_paths": union_paths,
    "set_except_intersect": set_except_intersect,
    "agg_incremental_totals": agg_incremental_totals,
    "window_lag_delta": window_lag_delta,
    "quantile_sketch": quantile_sketch,
    "agg_ols_slope": agg_ols_slope,
    "scd2_intervals": scd2_intervals,
    "upsert_merge": upsert_merge,
    "merge_cdc": merge_cdc,
    "overwrite_by_key": overwrite_by_key,
    "sync_pipeline_o2o": sync_pipeline_o2o,
    "sync_pipeline_o2m": sync_pipeline_o2m,
    "sync_metrics": sync_metrics,
    "string_upper_multi": string_upper_multi,
    "string_concat_split": string_concat_split,
    "cond_coalesce": cond_coalesce,
    "ts_format_tz": ts_format_tz,
    "math_duration": math_duration,
    "text_parse_log": text_parse_log,
    "json_roundtrip": json_roundtrip,
    "window_moving_avg": window_moving_avg,
    "window_time_range": window_time_range,
    "agg_rollup": agg_rollup,
    "agg_cube": agg_cube,
    "agg_percentiles": agg_percentiles,
    "agg_pivot": agg_pivot,
    "agg_unpivot": agg_unpivot,
    "json_map_extract": json_map_extract,
    "fuzzy_match": fuzzy_match,
    "embedding_centroids": embedding_centroids,
    "distinct_sketch": distinct_sketch,
    "lm_score": lm_score,
    "split_assign": split_assign,
    "join_asof": join_asof,
    "join_range": join_range,
    "join_full_outer_nullsafe": join_full_outer_nullsafe,
    "join_skew_salted": join_skew_salted,
    "join_bloom_pruned": join_bloom_pruned,
    "ivf_train": ivf_train,
    "ivf_train2": ivf_train2,
    "ivf_train3": ivf_train3,
    "window_tumbling": window_tumbling,
    "window_sliding": window_sliding,
    "window_session": window_session,
    "window_session_chunked": window_session_chunked,
    "stream_late_drop": stream_late_drop,
    "stream_dedup": stream_dedup,
    "stream_stateful_totals": stream_stateful_totals,
    "stream_join": stream_join,
    "stream_join_evicting": stream_join_evicting,
    "dedup_exact": dedup_exact,
    "dedup_minhash": dedup_minhash,
    "dedup_minhash_capped": dedup_minhash_capped,
    "dedup_minhash_est": dedup_minhash_est,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_incremental": dedup_incremental,
    "decontam_embedding": decontam_embedding,
    "decontam_spans": decontam_spans,
    "decontam_spans_cut": decontam_spans_cut,
    "decontam_report": decontam_report,
    "decontam_fuzzy": decontam_fuzzy,
    "knn_graph": knn_graph,
    "knn_graph_ivf": knn_graph_ivf,
    "knn_graph_auto": knn_graph_auto,
    "ann_geometry": ann_geometry,
    "embedding_outliers": embedding_outliers,
    "dedup_embedding": dedup_embedding,
    "dedup_embedding_auto": dedup_embedding_auto,
    "dedup_semantic": dedup_semantic,
    "dedup_clusters": dedup_clusters,
    "graph_pagerank": graph_pagerank,
    "ann_bruteforce": ann_bruteforce,
    "ann_lsh": ann_lsh,
    "ann_ivf": ann_ivf,
    "ann_lsh_multiprobe": ann_lsh_multiprobe,
    "ann_recall": ann_recall,
    "lang_id": lang_id,
    "quality_score": quality_score,
    "token_count": token_count,
    "doc_fingerprint": doc_fingerprint,
    "term_topk": term_topk,
    "tfidf_topk": tfidf_topk,
    "bm25_topk": bm25_topk,
    "udtf_chunk_tokens": udtf_chunk_tokens,
    "cms_topk": cms_topk,
    "multimodal_meta": multimodal_meta,
    "multimodal_features": multimodal_features,
    "multimodal_chunks": multimodal_chunks,
    "repetition_score": repetition_score,
    "decontam_ngram": decontam_ngram,
    "pack_sequences": pack_sequences,
    "pii_redact": pii_redact,
    "sample_temperature": sample_temperature,
    "sample_token_budget": sample_token_budget,
    "quality_adaptive": quality_adaptive,
    "compact_plan": compact_plan,
    "burst_detect": burst_detect,
    "novelty_score": novelty_score,
    "stream_burst": stream_burst,
    "sketch_merge": sketch_merge,
    "stream_sample": stream_sample,
    "multimodal_resize": multimodal_resize,
    "window_gap_islands": window_gap_islands,
    "join_bucketed": join_bucketed,
    "ts_decompose": ts_decompose,
    "scan_partition_pruned": scan_partition_pruned,
    "corpus_summary": corpus_summary,
    "tokenize_offsets": tokenize_offsets,
    "group_sample_n": group_sample_n,
    "bpe_pairs": bpe_pairs,
    "lang_confusion": lang_confusion,
    "rfm_segments": rfm_segments,
    "hard_negatives": hard_negatives,
    "hard_negatives_ivf": hard_negatives_ivf,
    "ann_index_roundtrip": ann_index_roundtrip,
    "graph_triangles": graph_triangles,
    "graph_triangles_ivf": graph_triangles_ivf,
    "ts_autocorr": ts_autocorr,
    "k_anonymity": k_anonymity,
    "feature_hashing": feature_hashing,
    "quantile_bucketize": quantile_bucketize,
    "stream_cdc_apply": stream_cdc_apply,
    "window_rolling_median": window_rolling_median,
    "state_durations": state_durations,
    "sample_fixed_n": sample_fixed_n,
    "sample_weighted": sample_weighted,
    "sample_stratified": sample_stratified,
    "sample_stratified_rates": sample_stratified_rates,
    "mix_epochs": mix_epochs,
    "tokenizer_fertility": tokenizer_fertility,
    "tokenizer_fertility_bpe": tokenizer_fertility_bpe,
    "text_strip_markup": text_strip_markup,
    "dedup_segments": dedup_segments,
    "window_ntile": window_ntile,
    "window_first_last": window_first_last,
    "agg_grouping_sets": agg_grouping_sets,
    "join_spatial_grid": join_spatial_grid,
    "join_temporal_validity": join_temporal_validity,
    "agg_time_rollup": agg_time_rollup,
    "validate_domains": validate_domains,
    "profile_stats": profile_stats,
    "group_mode": group_mode,
    "outlier_zscore": outlier_zscore,
    "outlier_mad": outlier_mad,
    "hhi_concentration": hhi_concentration,
    "corr_groups": corr_groups,
    "events_funnel": events_funnel,
    "events_dau_mau": events_dau_mau,
    "retention_cohort": retention_cohort,
    "ngram_topk": ngram_topk,
    "dedup_priority": dedup_priority,
    "event_transitions": event_transitions,
    "group_topk": group_topk,
    "activity_histogram": activity_histogram,
    "shuffle_shards": shuffle_shards,
    "mix_interleave": mix_interleave,
    "tpch_q1": tpch_q1,
    "tpch_q2": tpch_q2,
    "tpch_q3": tpch_q3,
    "tpch_q4": tpch_q4,
    "tpch_q5": tpch_q5,
    "tpch_q6": tpch_q6,
    "tpch_q7": tpch_q7,
    "tpch_q8": tpch_q8,
    "tpch_q9": tpch_q9,
    "tpch_q10": tpch_q10,
    "tpch_q11": tpch_q11,
    "tpch_q12": tpch_q12,
    "tpch_q13": tpch_q13,
    "tpch_q14": tpch_q14,
    "tpch_q15": tpch_q15,
    "tpch_q16": tpch_q16,
    "tpch_q17": tpch_q17,
    "tpch_q18": tpch_q18,
    "tpch_q19": tpch_q19,
    "tpch_q20": tpch_q20,
    "tpch_q21": tpch_q21,
    "tpch_q22": tpch_q22,
    "vocab_coverage": vocab_coverage,
    "dedup_containment": dedup_containment,
    "dedup_containment_capped": dedup_containment_capped,
    "dedup_containment_auto": dedup_containment_auto,
    "dedup_jaccard_capped": dedup_jaccard_capped,
    "dedup_jaccard_auto": dedup_jaccard_auto,
    "dedup_spans": dedup_spans,
    "dedup_spans_intra": dedup_spans_intra,
    "dedup_spans_intra_cut": dedup_spans_intra_cut,
    "dedup_embedding_incremental": dedup_embedding_incremental,
    "bpe_train": bpe_train,
    "bpe_segment": bpe_segment,
    "hybrid_search_rrf": hybrid_search_rrf,
    "mmr_rerank": mmr_rerank,
    "mmr_rerank_ivf": mmr_rerank_ivf,
    "mmr_rerank_auto": mmr_rerank_auto,
    "prf_requery": prf_requery,
    "context_pack": context_pack,
    "dsir_weights": dsir_weights,
    "dsir_resample": dsir_resample,
    "rocchio_classify": rocchio_classify,
    "fingerprint_winnow": fingerprint_winnow,
    "bootstrap_ci": bootstrap_ci,
    "ab_cuped": ab_cuped,
    "ann_mrr": ann_mrr,
    "ann_eval": ann_eval,
    "hybrid_mmr": hybrid_mmr,
    "prf_expand": prf_expand,
    "dedup_spans_cut": dedup_spans_cut,
    "dedup_recall": dedup_recall,
    "l_diversity": l_diversity,
    "ts_changepoint": ts_changepoint,
    "benford_digits": benford_digits,
    "ab_kstest": ab_kstest,
    "value_ecdf": value_ecdf,
    "sketch_hll": sketch_hll,
    "window_ewma": window_ewma,
    "skyline_pareto": skyline_pareto,
    "source_overlap_kmv": source_overlap_kmv,
    "source_overlap_kmv_sketch": source_overlap_kmv_sketch,
    "winsorize_stats": winsorize_stats,
    "token_gini": token_gini,
    "scan_jsonl_corrupt": scan_jsonl_corrupt,
    "scan_csv_typed": scan_csv_typed,
    "scan_schema_evolution": scan_schema_evolution,
    "scan_orc_roundtrip": scan_orc_roundtrip,
    "ab_chisq": ab_chisq,
    "seq_trigrams": seq_trigrams,
    "basket_pairs": basket_pairs,
    "attribution_first_touch": attribution_first_touch,
    "trend_theil_sen": trend_theil_sen,
    "stream_hll": stream_hll,
    "trend_theil_sen_capped": trend_theil_sen_capped,
    "trend_theil_sen_auto": trend_theil_sen_auto,
    "resample_interpolate": resample_interpolate,
    "group_percentiles": group_percentiles,
    "join_nearest": join_nearest,
    "window_zscore_rolling": window_zscore_rolling,
    "snapshot_diff": snapshot_diff,
    "resample_ffill": resample_ffill,
    "ab_ttest": ab_ttest,
    "agg_string_concat": agg_string_concat,
    "rolling_active": rolling_active,
    "inverted_index": inverted_index,
    "term_pmi": term_pmi,
    "skew_stats": skew_stats,
    "window_cumdistinct": window_cumdistinct,
    "curation_pipeline": curation_pipeline,
    "join_cross": join_cross,
    "agg_filtered_multi": agg_filtered_multi,
    "embedding_quantize": embedding_quantize,
    "embedding_pq": embedding_pq,
    "ann_ivfpq": ann_ivfpq,
    "stream_session": stream_session,
    "stream_tail": stream_tail,
}

#: exact-arm -> (scale-dial key, why) — keys whose headline form is
#: the full-recall/exact computation but whose cost grows
#: superlinearly on adversarial data; the dial is the shipped
#: sub-quadratic sibling with the SAME verified semantics on what it
#: emits. The CLI `explain` prints this pointer both ways so a future
#: operator picks the scale-safe arm by default (r7 verdict item 6);
#: SCALING.md carries the measured three-point growth for each.
SCALE_DIALS: dict[str, tuple[str, str]] = {
    "dedup_containment": (
        "dedup_containment_capped",
        "capped-LSH candidates -> exact verify: every emitted pair "
        "still exactly verified, recall ~0.9 at 2x+ less cost; the "
        "exact prefix arm's candidate volume grows with per-shingle "
        "posting density^2",
    ),
    "dedup_ngram_jaccard": (
        "dedup_minhash",
        "banded MinHash-LSH thresholds candidate volume by "
        "construction; the exact AllPairs prefix arm is the "
        "full-recall audit dial on template-heavy corpora",
    ),
    "trend_theil_sen": (
        "trend_theil_sen_capped",
        "deterministic hash-min sample of <=32 events/user bounds "
        "pairing at 496 pairs/user (exact agreement at or under the "
        "cap); the uncapped arm is quadratic per user",
    ),
    "source_overlap_kmv": (
        "source_overlap_kmv_sketch",
        "KMV estimate only — drops the vocabulary self-equi-join "
        "entirely (0 SMJ; sources x k rows after one deduped-vocab "
        "shuffle); the exact-Jaccard arm is the verification dial",
    ),
    "window_session": (
        "window_session_chunked",
        "two-level sessionize: level 1 within (user, 6h chunk) "
        "bounds per-task input for any activity rate, level 2 "
        "merges only boundary SESSIONS — bit-identical output "
        "(shares the flat key's oracle verbatim); the flat per-user "
        "window measured a 1.29x hot-key straggler at sf1 skew",
    ),
    "knn_graph": (
        "knn_graph_ivf",
        "√n-cell IVF coarse quantization: O(n^1.5·nprobe) instead of "
        "the exact tiled form's O(n²/tiles) FLOPs (round-8 measured "
        "exponent 1.4 at the top decade); recall misses concentrate "
        "on neighbors across unprobed cell boundaries",
    ),
    "graph_triangles": (
        "graph_triangles_ivf",
        "the triangles key's cost is the inherited EXACT graph build "
        "(round-8 exponent 1.11; the triangle join is node-linear) — "
        "the dial swaps in the knn_graph_ivf graph and keeps the "
        "identical triangle core, fully value-checked via the "
        "composed oracle",
    ),
    "ann_recall": (
        "ann_eval",
        "recall@k AND MRR@k from one persisted set of index scans "
        "(half the index builds when both metrics are wanted)",
    ),
    "ann_mrr": (
        "ann_eval",
        "recall@k AND MRR@k from one persisted set of index scans "
        "(half the index builds when both metrics are wanted)",
    ),
    "hard_negatives": (
        "hard_negatives_ivf",
        "the same top-k-by-different-label semantics within IVF "
        "probed cells — O(n^1.5*nprobe) instead of the exact tiled "
        "all-pairs sweep the label mask rides on; deterministic and "
        "value-checked like the parent graph",
    ),
    "dedup_embedding": (
        "dedup_embedding_auto",
        "r15: the measured crossover WIRED (SCALING.md 'embedding-"
        "dedup auto-dial') — one corpus count keeps the exact "
        "all-pairs join at n <= 8000 (the measured 5k->10k "
        "wall-clock gap) and takes the LINEAR SemDeDup "
        "member->exemplar prune above it (r9 second decade measured "
        "the exact arm's OUTPUT going quadratic: 5.0M pairs at 200k "
        "isotropic vectors, wall exponent 1.56 even with the "
        "bounded-chunk kernel); dedup_semantic stays the per-vector "
        "keep-flag form of the linear arm",
    ),
}

#: reverse view: dial key -> ALL the exact/audit arms it relieves
#: (a dial can serve several standalone keys — ann_eval consolidates
#: both ann_recall and ann_mrr; a plain dict comprehension would keep
#: only the last arm and silently drop the rest, r8 advisor)
SCALE_DIAL_OF: dict[str, list[str]] = {}
for _exact, (_dial, _why) in SCALE_DIALS.items():
    SCALE_DIAL_OF.setdefault(_dial, []).append(_exact)

