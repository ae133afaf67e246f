"""Physical-plan audits: the scale properties the engine claims must
be visible in the executed plan, not just intended (SURVEY §4).

- keyed scans push the IN-filter into the parquet scan
- projected scans prune ReadSchema to the selected columns
- CDC-shaped joins broadcast the small side (no shuffle of the big)
- hash aggregations are partial (map-side combine) before the shuffle
- JDBC option assembly (no driver in container — S1-at-scale config)
"""

from __future__ import annotations

import re

import pytest

from rsbsa_etl_spark.registry import QUERIES
from rsbsa_etl_spark.sources.jdbc import JdbcEndpoint, reader_options

from tests.conftest import SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_keyed_scan_pushes_filter(spark):
    plan = _plan(QUERIES["scan_filter_in"](spark, SF_DIR))
    assert "PushedFilters: [In(l_orderkey" in plan


def test_projected_scan_prunes_columns(spark):
    plan = _plan(QUERIES["scan_project"](spark, SF_DIR))
    assert "ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double>" in plan


def test_incremental_scan_pushes_watermark_predicate(spark):
    plan = _plan(QUERIES["scan_incremental"](spark, SF_DIR))
    assert "PushedFilters: [IsNotNull(event_id), GreaterThan(event_id," in plan


def test_semi_join_broadcasts_key_side(spark):
    plan = _plan(QUERIES["join_semi"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_upsert_broadcasts_update_keys(spark):
    # the anti-join of the untouched side must broadcast the update
    # key set, never shuffle the target
    plan = _plan(QUERIES["upsert_merge"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_agg_is_partial_before_shuffle(spark):
    plan = _plan(QUERIES["agg_sum_groups"](spark, SF_DIR))
    # two HashAggregate rounds (partial + final) around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(l_returnflag" in plan


def test_topk_avoids_global_sort(spark):
    plan = _plan(QUERIES["topk_recent"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


def test_bloom_prune_is_broadcast_semi_no_fact_shuffle(spark):
    # the runtime-filter digest must reach the fact side as a
    # broadcast LeftSemi on the hash slot; the fact table itself must
    # never sort-merge (its only joins are broadcast-built)
    plan = _plan(QUERIES["join_bloom_pruned"](spark, SF_DIR))
    assert "LeftSemi" in plan and "pmod(xxhash64" in plan
    assert "SortMergeJoin" not in plan


def test_token_budget_windows_are_bucket_partitioned(spark):
    # the corpus-sized running sum must be a PARTITIONED window (the
    # two-pass prefix sum); the only unpartitioned window allowed is
    # the 64-row bucket-offset table
    plan = _plan(QUERIES["sample_token_budget"](spark, SF_DIR))
    assert "windowspecdefinition(bucket" in plan
    assert "BroadcastHashJoin" in plan  # offsets join back broadcast


def test_whole_stage_codegen_covers_flagship(spark):
    df = QUERIES["agg_sum_groups"](spark, SF_DIR)
    df.collect()  # AQE finalizes THIS plan only after its execution
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # '*(n)' prefixes mark WholeStageCodegen spans; both aggregate
    # rounds and the scan-filter-project chain must be inside one
    assert "*(1)" in plan and "*(2)" in plan


# ------------------------------------------------------------------- JDBC


def test_jdbc_partitioned_reader_options():
    ep = JdbcEndpoint(
        url="jdbc:mysql://src:3306/rsbsa", user="u", password="p"
    )
    opts = reader_options(
        ep,
        "farmers_kyc1",
        partition_column="id",
        lower_bound=0,
        upper_bound=1_000_000,
        num_partitions=16,
    )
    assert opts["partitionColumn"] == "id"
    assert opts["numPartitions"] == "16"
    assert opts["pushDownPredicate"] == "true"
    assert opts["fetchsize"] == "10000"


def test_jdbc_partitioned_reader_requires_bounds():
    ep = JdbcEndpoint(url="jdbc:mysql://src:3306/rsbsa", user="u", password="p")
    with pytest.raises(ValueError):
        reader_options(ep, "t", partition_column="id")


def test_fuzzy_match_is_equi_join(spark):
    # FastSS candidates must come from a hash equi-join on the
    # deletion variant — a nested-loop/cartesian plan means the
    # quadratic blowup the neighborhood construction exists to avoid
    plan = _plan(QUERIES["fuzzy_match"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join [variant" in plan or "HashJoin [variant" in plan or (
        "variant" in plan and "Join" in plan
    )


def test_asof_join_single_shuffle(spark):
    # union-window as-of: one hash exchange on the key, no join
    # operator at all (the window replaces the range join)
    plan = _plan(QUERIES["join_asof"](spark, SF_DIR))
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") == 1


def test_ivf_train_broadcasts_centroids(spark):
    # assignment must never shuffle the corpus for the centroid
    # table: the Arrow kernel carries the collected centroids in its
    # broadcast — no join, no exchange, a narrow MapInArrow stage
    plan = _plan(QUERIES["ivf_train"](spark, SF_DIR))
    assert "MapInArrow" in plan or "ArrowEvalPython" in plan
    assert "SortMergeJoin" not in plan
    # the assignment join is gone entirely — the only exchange left
    # is the M-step's (label, dim) partial-agg shuffle
    assert "Join" not in plan


def test_ann_scoring_is_arrow_kernel(spark):
    """r16: the ANN scoring stage (brute force / LSH / IVF / IVF-PQ)
    must run as the MapInArrow batch kernel with NO join operator of
    any kind — the corpus is one narrow scan feeding the kernel and
    the per-query ranking window."""
    for key in ("ann_bruteforce", "ann_lsh", "ann_lsh_multiprobe",
                "ann_ivf", "ann_ivfpq"):
        plan = _plan(QUERIES[key](spark, SF_DIR))
        assert "MapInArrow" in plan, key
        assert "Join" not in plan, key
        assert "BatchEvalPython" not in plan, key


def test_pq_encode_single_pass(spark):
    """r16: PQ encode must be ONE MapInArrow pass — no explode of
    the corpus into per-sub rows, no regroup aggregate; the only
    exchange left is the output ordering's range partitioning."""
    plan = _plan(QUERIES["embedding_pq"](spark, SF_DIR))
    assert "MapInArrow" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Generate" not in plan  # the posexplode is gone


def test_brute_force_topk_matches_oracle_on_degenerate_rows(spark):
    """the scoring kernel row-for-row against the DuckDB
    ``ann_bruteforce`` oracle on a hand-built frame holding the
    classes the kernel special-cases: a zero-norm query (safe_div
    NULL — kept, ranked last, by id), a NULL corpus vector (NULL
    score), self-pair exclusion, negative cosines (Spark's floor,
    not truncation, at the 1e-6 quantization) and a top-k cut that
    runs through the NULL scores."""
    import duckdb
    import pandas as pd
    import pyarrow as pa

    from __spark_entry__ import oracle_sql
    from rsbsa_etl_spark.functions.similarity import brute_force_topk
    from rsbsa_etl_spark.params import ANN_QUERY_IDS, ANN_TOP_K
    from rsbsa_etl_spark.verify import canon

    vecs = [
        [float((i * 7 + j * 3) % 11 - 5) for j in range(64)]
        for i in range(12)
    ]
    vecs[3] = [0.0] * 64  # zero-norm: NULL cosine everywhere
    vecs[7] = None  # NULL corpus vector: NULL score
    assert 3 in ANN_QUERY_IDS and 7 not in ANN_QUERY_IDS
    table = pa.table(
        {
            "vec_id": pa.array(range(12), pa.int64()),
            "embedding": pa.array(vecs, pa.list_(pa.float32())),
        }
    )
    emb = spark.createDataFrame(
        list(zip(range(12), vecs)), "vec_id long, embedding array<float>"
    )
    got = brute_force_topk(emb).toPandas()
    con = duckdb.connect()
    con.register("embeddings", table)
    want = con.execute(oracle_sql()["ann_bruteforce"]).df()
    con.close()
    assert len(got) == len(want) == len(ANN_QUERY_IDS) * ANN_TOP_K
    pd.testing.assert_frame_equal(
        canon(got), canon(want), check_dtype=False, rtol=0, atol=1e-9
    )
    # the degenerate classes are really in the compared rows
    assert got[got.query_id == 3].cosine.isna().all()
    assert set(got[got.query_id == 3].neighbor_id) == set(range(11)) - {3}
    ranked_null = got[(got.query_id == 0) & got.cosine.isna()]
    assert list(ranked_null.neighbor_id) == [3]
    assert list(ranked_null["rank"]) == [ANN_TOP_K]
    assert (got.cosine < 0).any()


def test_lm_score_partial_aggregates(spark):
    # corpus bigram model: counts must partial-aggregate map-side
    # (the shuffle carries vocabulary-sized partials, not the corpus)
    plan = _plan(QUERIES["lm_score"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4  # partial+final for model+score


def test_range_join_is_bucketed_equi_join(spark):
    # bin bucketing must turn the pure range predicate into a hash
    # equi-join on the bin — BroadcastNestedLoopJoin is the
    # O(|fact|·|bands|) plan the operator exists to avoid
    plan = _plan(QUERIES["join_range"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tfidf_broadcasts_model_tables(spark):
    # df (vocabulary-sized) and N (scalar) must broadcast back onto
    # the per-doc tf table — the only corpus-sized shuffles are the
    # tf agg and the per-doc rank window
    plan = _plan(QUERIES["tfidf_topk"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pivot_is_pure_hash_agg_cascade(spark):
    # declared pivot values: the (priority,status) agg feeds
    # pivotfirst by priority — two partial-aggregated exchanges
    # carrying group rows, no join, no distinct-collect job, and a
    # 3-column scan
    plan = _plan(QUERIES["agg_pivot"](spark, SF_DIR))
    assert "Join" not in plan
    assert plan.count("Exchange") == 2
    assert "partial_pivotfirst" in plan and "partial_sum" in plan
    assert "o_orderdate" not in plan  # pruned scan


def test_unpivot_is_narrow(spark):
    # melt is expand-in-place: no exchange at all, and the scan
    # reads only the 6 referenced columns
    plan = _plan(QUERIES["agg_unpivot"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert "l_comment" not in plan


def test_quantile_sketch_shuffles_bins_not_rows(spark):
    # the row-count shuffle must be the (group, bin) partial-agg
    # pair; the window over bins runs on the bin table
    plan = _plan(QUERIES["quantile_sketch"](spark, SF_DIR))
    assert "partial_count" in plan or "partial" in plan.lower()
    assert "BroadcastNestedLoopJoin" not in plan


def test_observed_validity_counts_without_extra_pass(spark):
    # df.observe rides the existing action: metrics equal the
    # split counts the reference accumulates row-by-row
    from pyspark.sql import functions as F

    from rsbsa_etl_spark.operators.filters import observed_validity
    from rsbsa_etl_spark.sources.fixtures import load

    ev = load(spark, SF_DIR, "events")
    cond = (F.col("event_type") != F.lit("error")) & (F.col("value") > 1.0)
    out, obs = observed_validity(ev, cond)
    n_rows = out.count()
    m = obs.get
    assert m["n_total"] == n_rows
    assert m["n_valid"] == ev.where(cond).count()
    assert 0 < m["n_valid"] < m["n_total"]


def test_pii_redact_is_narrow(spark):
    # pure regex map: no exchange anywhere — scan-bound at 100 TB
    plan = _plan(QUERIES["pii_redact"](spark, SF_DIR))
    assert "Exchange" not in plan


def test_decontam_broadcasts_eval_set(spark):
    # eval shingles broadcast; the training-side stream is never
    # shuffled for the probe (only the per-doc agg shuffles)
    plan = _plan(QUERIES["decontam_ngram"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_temperature_sample_broadcasts_thresholds(spark):
    # per-domain thresholds join back via broadcast; the corpus side
    # is filtered without a shuffle
    plan = _plan(QUERIES["sample_temperature"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_repetition_aggs_are_partial(spark):
    # both the (doc, token) count and the per-doc fold must map-side
    # combine: shuffle carries distinct (doc, token) rows, not token
    # occurrences
    plan = _plan(QUERIES["repetition_score"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 4


def test_spatial_grid_broadcasts_query_cells(spark):
    # the replicated 9-cell query side broadcasts; the point table
    # is never shuffled and the exact predicate stays in the filter
    plan = _plan(QUERIES["join_spatial_grid"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_domain_audit_is_single_pass(spark):
    # all rules fold into one aggregation over one scan: exactly one
    # parquet scan in the plan, no join, no second pass
    plan = _plan(QUERIES["validate_domains"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1 or plan.count("Scan parquet") == 1
    assert "Join" not in plan


def test_runtime_bloom_filter_prunes_fact_scan(spark):
    """Catalyst's InjectRuntimeFilter: a selective dim-side predicate
    becomes a bloom filter applied to the fact side BEFORE the join
    shuffle — at 100 TB this is the difference between shuffling the
    whole fact table and shuffling the ~matching slice. Fixture scans
    are below the default application-side threshold, so the test
    lowers it; production leaves the 10GB default."""
    from pyspark.sql import functions as F

    from rsbsa_etl_spark.sources.fixtures import load

    tweaks = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k) for k in tweaks}
    try:
        for k, v in tweaks.items():
            spark.conf.set(k, v)
        li = load(spark, SF_DIR, "lineitem")
        orders = load(spark, SF_DIR, "orders").where(F.col("o_totalprice") > 500_000)
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        opt = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt and "might_contain" in opt
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_profile_stats_narrow_scans(spark):
    # one single-column scan per profiled measure, and no Expand —
    # the multi-countDistinct form multiplies and shuffles every row
    # x(columns+1); the union-of-narrow-aggs shape must not regress
    # into it
    plan = _plan(QUERIES["profile_stats"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 4
    assert "Expand" not in plan
    assert "ReadSchema: struct<l_quantity:double>" in plan


def test_outlier_zscore_broadcasts_moments(spark):
    # the per-type moment row joins back by broadcast — the event
    # stream itself must never shuffle
    plan = _plan(QUERIES["outlier_zscore"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_corr_groups_partial_aggregates(spark):
    plan = _plan(QUERIES["corr_groups"](spark, SF_DIR))
    assert plan.count("HashAggregate") >= 2
    assert "Exchange hashpartitioning(l_returnflag" in plan


def test_ngram_topk_take_ordered(spark):
    # top-k must compile to TakeOrderedAndProject, not a global sort
    plan = _plan(QUERIES["ngram_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan


# Per-query physical-plan contract for ALL 22 TPC-H shapes (r9/r10
# verdict carry-over, extending the old q3/q5/q10 spot checks):
# (BroadcastHashJoin, Exchange hashpartitioning, TakeOrderedAndProject,
#  BroadcastNestedLoopJoin, FileScan parquet) counts at sf0.001 with
# this repo's session config. The load-bearing invariants: every dim
# join broadcasts (no SortMergeJoin on the fact spine — asserted
# globally below), LIMIT queries (q2/q3/q10/q18/q21) compile to
# TakeOrderedAndProject instead of a global sort, the only
# BroadcastNestedLoopJoins are the 1-row scalar-aggregate comparisons
# (q11's HAVING threshold, q22's avg-acctbal filter), and shuffle
# counts stay at the single post-join aggregate (plus the documented
# extra exchanges: q13's two-level count, q15/q16/q20's
# distinct-then-agg, q21's exists/not-exists pair).
_TPCH_PLAN_CONTRACTS = {
    #            bhj  exch  topk  bnlj  scans
    "tpch_q1":  (0,   1,    0,    0,    1),
    "tpch_q2":  (4,   2,    1,    0,    5),
    "tpch_q3":  (2,   1,    1,    0,    3),
    "tpch_q4":  (1,   1,    0,    0,    2),
    "tpch_q5":  (7,   1,    0,    0,    8),
    "tpch_q6":  (0,   0,    0,    0,    1),
    "tpch_q7":  (5,   1,    0,    0,    6),
    "tpch_q8":  (7,   1,    0,    0,    8),
    "tpch_q9":  (4,   1,    0,    0,    5),
    "tpch_q10": (3,   1,    1,    0,    4),
    "tpch_q11": (6,   2,    0,    1,    8),
    "tpch_q12": (1,   1,    0,    0,    2),
    "tpch_q13": (1,   2,    0,    0,    2),
    "tpch_q14": (1,   0,    0,    0,    2),
    "tpch_q15": (2,   2,    0,    0,    3),
    "tpch_q16": (2,   3,    0,    0,    3),
    "tpch_q17": (3,   1,    0,    0,    4),
    "tpch_q18": (2,   1,    1,    0,    3),
    "tpch_q19": (1,   0,    0,    0,    2),
    "tpch_q20": (5,   3,    0,    0,    6),
    "tpch_q21": (4,   5,    1,    0,    5),
    "tpch_q22": (1,   1,    0,    1,    3),
}


@pytest.mark.parametrize("key", sorted(_TPCH_PLAN_CONTRACTS))
def test_tpch_plan_contracts(spark, key):
    bhj, exch, topk, bnlj, scans = _TPCH_PLAN_CONTRACTS[key]
    plan = _plan(QUERIES[key](spark, SF_DIR))
    got = (
        plan.count("BroadcastHashJoin"),
        plan.count("Exchange hashpartitioning"),
        plan.count("TakeOrderedAndProject"),
        plan.count("BroadcastNestedLoopJoin"),
        plan.count("FileScan parquet"),
    )
    assert got == (bhj, exch, topk, bnlj, scans), (
        f"{key}: plan shape drifted — "
        f"(bhj, exchange, topk, bnlj, scans) = {got}, "
        f"pinned {(bhj, exch, topk, bnlj, scans)}"
    )
    # global invariants, every query: the fact spine never
    # sort-merge-joins and nothing degenerates to a cross product
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # predicates reach the parquet scan wherever the query filters
    if key not in ("tpch_q1", "tpch_q13"):  # q1/q13: no pushable filter
        assert "PushedFilters: [" in plan


def test_cumdistinct_single_exchange(spark):
    # the first-occurrence flag must ride the same user_id
    # partitioning as the cumulative sum — one exchange, two sorts
    plan = _plan(QUERIES["window_cumdistinct"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_curation_pipeline_fused(spark):
    # quality gate + dedup + split must fuse into one scan and one
    # exchange — join-back-by-id between stages would rescan the
    # corpus
    plan = _plan(QUERIES["curation_pipeline"](spark, SF_DIR))
    assert plan.count("FileScan parquet") == 1
    assert plan.count("Exchange hashpartitioning") == 1
    # r8 verdict item 7: a composition must embed the SCALE-SAFE arm
    # of each stage, never an exact audit arm. The pipeline's dedup
    # is the exact-HASH window (linear, the one exchange above) —
    # assert the plan contains no AllPairs shape: no join of any
    # kind (a prefix self-join would plan as a join), no grouped-map
    # BLAS stage, no second corpus scan
    assert "Join" not in plan, "composed pipeline grew a join stage"
    assert "FlatMapGroupsInPandas" not in plan
    assert "FlatMapGroupsInArrow" not in plan


def test_curation_quality_gate_filters_above_the_regex_tree(spark):
    # the F.shuffle(F.array(quality))[0] barrier in curation_pipeline
    # (functions/curation.py) is non-deterministic to the optimizer,
    # so the quality gate is NOT pushed below the projection with the
    # ~30-regex score substituted in (that would evaluate the regex
    # tree twice per row): the Filter compares the quality attribute
    # itself, and no Filter evaluates an rlike
    df = QUERIES["curation_pipeline"](spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    filters = [ln for ln in plan.splitlines() if "Filter " in ln]
    gate = re.compile(r"\bquality#\d+ >= 0\.75\b")
    assert any(gate.search(ln) for ln in filters), filters
    assert not any("rlike" in ln.lower() for ln in filters), filters


def test_dedup_embedding_is_tiled_not_driver_collected(spark):
    # exact all-pairs cosine must run as the tiled applyInArrow
    # block-matmul — the plan contains the grouped-map node and the
    # tile-pair shuffle, and building the DataFrame must not touch
    # the data (the old implementation did a driver-side toPandas()
    # of the whole corpus at plan-construction time)
    plan = _plan(QUERIES["dedup_embedding"](spark, SF_DIR))
    assert "FlatMapGroupsInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "Exchange hashpartitioning(ta" in plan


def test_knn_graph_is_tiled_with_blockwise_topk(spark):
    # the kNN graph must run as the tiled grouped-map block-matmul
    # (FlatMapGroupsInArrow over tile pairs) feeding a per-source
    # ranking window — NOT an n² pair shuffle into the window: the
    # window input is the applyInArrow output, whose volume is
    # n·√tasks·k by the block-local top-k cut
    plan = _plan(QUERIES["knn_graph"](spark, SF_DIR))
    assert "FlatMapGroupsInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "row_number" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_ngram_jaccard_verifies_prefix_filter_candidates(spark):
    # the exact-verify join must consume the prefix-filter candidate
    # list (rank window over per-doc shingles → "row_number" in the
    # plan), NOT the probabilistic banded-MinHash pipeline (its
    # band_hash columns must be gone) and not an unfiltered shingle
    # posting-list self-join
    plan = _plan(QUERIES["dedup_ngram_jaccard"](spark, SF_DIR))
    assert "row_number" in plan
    assert "band_hash" not in plan


def test_containment_verifies_prefix_filter_candidates(spark):
    plan = _plan(QUERIES["dedup_containment"](spark, SF_DIR))
    assert "row_number" in plan
    assert "band_hash" not in plan


def test_containment_finds_subset_pair_lsh_would_miss(spark):
    # a tiny doc embedded verbatim in a much larger one: containment
    # = 1.0 but Jaccard ≈ |small|/|large| ≈ 0.07, so Jaccard-tuned
    # MinHash bands collide with near-zero probability — the exact
    # prefix-filter path must still emit the pair (advisor finding,
    # round 3)
    from rsbsa_etl_spark.functions.dedup import containment_pairs

    big = " ".join(f"w{i}" for i in range(150))
    small = " ".join(f"w{i}" for i in range(12))
    docs = spark.createDataFrame(
        [(1, big), (2, small), (3, "unrelated words only here")],
        "doc_id bigint, text string",
    )
    got = {
        (r.doc_contained, r.doc_container)
        for r in containment_pairs(docs, threshold=0.8).collect()
    }
    assert (2, 1) in got
    assert (1, 2) not in got


def test_prefix_filter_candidates_superset_of_threshold_pairs(spark):
    # lossless-candidate property on the real corpus: every pair at
    # or above the Jaccard threshold (computed by unrestricted exact
    # all-pairs) must appear in the prefix-filter candidate set
    from rsbsa_etl_spark.functions.dedup import (
        prefix_filter_candidates,
        shingle_rows,
    )
    from rsbsa_etl_spark.params import JACCARD_THRESHOLD
    from rsbsa_etl_spark.sources.fixtures import load
    from pyspark.sql import functions as F

    docs = load(spark, SF_DIR, "documents")
    sh = shingle_rows(docs).distinct().persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b"))
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    truth = {
        (r.doc_a, r.doc_b)
        for r in inter.join(sa, "doc_a").join(sb, "doc_b")
        .where(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b")
        .collect()
    }
    cand = {
        (r.doc_a, r.doc_b)
        for r in prefix_filter_candidates(sh, JACCARD_THRESHOLD).collect()
    }
    sh.unpersist()
    assert truth <= cand, sorted(truth - cand)[:10]


def test_jdbc_writer_options():
    from rsbsa_etl_spark.sources.jdbc import writer_options

    ep = JdbcEndpoint(
        url="jdbc:mysql://tgt:3306/rsbsa", user="u", password="p"
    )
    opts = writer_options(ep, "farmers_kyc1", batchsize=50_000, truncate=True)
    assert opts["dbtable"] == "farmers_kyc1"
    assert opts["batchsize"] == "50000"
    assert opts["truncate"] == "true"
    assert opts["isolationLevel"] == "READ_COMMITTED"


def test_jdbc_upsert_statement_mirrors_reference():
    # bulkUpdateRecords (etlService.js:117-130): every non-key column
    # in the update list, key drives conflict; reserved identifiers
    # backticked like bulkInsertRecords (etlService.js:134-137)
    from rsbsa_etl_spark.sources.jdbc import upsert_statement

    stmt = upsert_statement(
        "farmers_kyc1", ["rsbsa_no", "first_name", "long"], key_col="rsbsa_no"
    )
    assert stmt.startswith(
        "INSERT INTO farmers_kyc1 (rsbsa_no, first_name, `long`) "
        "SELECT rsbsa_no, first_name, `long` FROM farmers_kyc1__stage"
    )
    assert "ON DUPLICATE KEY UPDATE" in stmt
    assert "first_name = VALUES(first_name)" in stmt
    assert "`long` = VALUES(`long`)" in stmt
    assert "rsbsa_no = VALUES" not in stmt  # key never in the set list


def test_jdbc_upsert_statement_merge_dialect():
    from rsbsa_etl_spark.sources.jdbc import upsert_statement

    stmt = upsert_statement(
        "t", ["rsbsa_no", "v"], key_col="rsbsa_no", dialect="merge"
    )
    assert stmt.startswith("MERGE INTO t t USING t__stage s")
    assert "ON t.rsbsa_no = s.rsbsa_no" in stmt
    assert "WHEN MATCHED THEN UPDATE SET t.v = s.v" in stmt
    assert "WHEN NOT MATCHED THEN INSERT (rsbsa_no, v)" in stmt

    # reserved identifiers get ANSI double quotes in the merge
    # dialect — MySQL backticks are a syntax error on standard-SQL
    # MERGE targets
    reserved = upsert_statement(
        "t", ["rsbsa_no", "order"], key_col="rsbsa_no", dialect="merge"
    )
    assert '"order"' in reserved
    assert "`" not in reserved

    with pytest.raises(ValueError):
        upsert_statement("t", ["k"], dialect="postgres")


def test_jdbc_write_rejects_unknown_mode(spark):
    from rsbsa_etl_spark.sources.jdbc import write_jdbc

    ep = JdbcEndpoint(url="jdbc:mysql://tgt:3306/rsbsa", user="u", password="p")
    with pytest.raises(ValueError):
        write_jdbc(spark.range(1), ep, "t", mode="merge")


def test_ivf_cell_assignment_has_no_corpus_shuffle(spark):
    # Voronoi assignment must be the argmin expression fold over
    # collected broadcast centroids — the window form shuffled
    # corpus×n_centroids rows. Only the per-cell exemplar window
    # (cid) may shuffle in dedup_semantic; ann_ivf may only shuffle
    # the tiny query side.
    import re

    plan = _plan(QUERIES["dedup_semantic"](spark, SF_DIR))
    shuffles = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert all(s.startswith("cid") for s in shuffles), shuffles

    plan = _plan(QUERIES["ann_ivf"](spark, SF_DIR))
    shuffles = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert all(s.startswith("query_id") for s in shuffles), shuffles


def test_pq_code_assignment_has_no_keyed_window_shuffle(spark):
    # codeword argmin folds against per-sub broadcast codebook arrays;
    # the only corpus-sized exchange left is the per-vector regroup
    import re

    plan = _plan(QUERIES["embedding_pq"](spark, SF_DIR))
    shuffles = re.findall(r"Exchange hashpartitioning\((\w+)", plan)
    assert all(
        s.startswith("vec_id") or s.startswith("c_sub") for s in shuffles
    ), shuffles


def test_bloom_prune_rejects_mismatched_key_types(spark):
    # xxhash64 is type-sensitive while the exact join coerces — a
    # type mismatch would silently drop matches in the prune, so the
    # operator must refuse it up front
    from rsbsa_etl_spark.operators.joins import bloom_pruned_join

    left = spark.range(10).selectExpr("CAST(id AS INT) AS k")
    right = spark.range(10).selectExpr("CAST(id AS BIGINT) AS k")
    with pytest.raises(TypeError, match="type-sensitive"):
        bloom_pruned_join(left, right, "k")


def test_registry_bucketed_join_has_no_exchange(spark):
    # both sides are bucketed+sorted on the join key, so the join
    # must run as a sort-merge join over both bucketed scans with
    # ZERO shuffle exchanges — the pay-once-at-write co-location
    # contract (a broadcast join would read both tables unbucketed)
    from tests.conftest import SF_DIR

    plan = _plan(QUERIES["join_bucketed"](spark, SF_DIR))
    assert "Exchange hashpartitioning" not in plan
    assert "SortMergeJoin" in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Bucketed: true") == 2


def test_partitioned_scan_prunes_directories(spark):
    # the predicate must land in PartitionFilters (directory prune),
    # not DataFilters (row filter after reading everything)
    from tests.conftest import SF_DIR

    df = QUERIES["scan_partition_pruned"](spark, SF_DIR)
    plan = _plan(df)
    assert "PartitionFilters: [isnotnull(event_type" in plan
    # the rewrite reads back exactly one of the partition dirs
    assert df.select("event_type").distinct().count() == 1


def test_group_sample_gets_window_group_limit(spark):
    # Catalyst must insert Partial+Final WindowGroupLimit for the
    # rank-limit window — the optimizer-provided two-level top-N the
    # operator's docstring relies on
    from tests.conftest import SF_DIR

    plan = _plan(QUERIES["group_sample_n"](spark, SF_DIR))
    assert plan.count("WindowGroupLimit") == 2


def test_hard_negatives_mines_inside_tile_blocks(spark):
    # the label-mismatch mask must be applied inside the tiled
    # block-matmul (same FlatMapGroupsInArrow shape as knn_graph),
    # not as a post-hoc join of an unfiltered n² pair set
    plan = _plan(QUERIES["hard_negatives"](spark, SF_DIR))
    assert "FlatMapGroupsInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_triangle_edges_are_cached_once(spark):
    # the kNN edge set feeds four consumers (two wedge legs, the
    # closing leg, degrees); it must be a shared InMemoryRelation so
    # the block-matmul runs once, and triangle closure must join the
    # node-linear edge table, never a pairwise product
    plan = _plan(QUERIES["graph_triangles"](spark, SF_DIR))
    assert plan.count("InMemoryTableScan") == 4
    assert "CartesianProduct" not in plan


def test_rfm_has_no_global_sort_window(spark):
    # quartile scoring must come from the percentile_disc AGGREGATE
    # broadcast back (3 scalar BNLJ broadcasts are the expected
    # CROSS JOIN (SELECT agg...) plan) — an ntile/row_number window
    # with empty PARTITION BY would funnel every customer through a
    # single task
    plan = _plan(QUERIES["rfm_segments"](spark, SF_DIR))
    assert "Window" not in plan
    assert plan.count("InMemoryTableScan") >= 3  # customer agg shared


def test_duplicated_spans_is_posting_list_shaped(spark):
    # the substring-dedup path must stay linear: gram posting list +
    # per-doc windows — no pairwise join of documents, no Python
    # stage, ReadSchema pruned to (doc_id, text)
    plan = _plan(QUERIES["dedup_spans"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "ReadSchema: struct<doc_id:bigint,text:string>" in plan


def test_bipartite_embedding_screen_shuffles_corpus_once(spark):
    # the ingest screen's whole cost model: ONE exchange (the tile
    # groupBy — corpus rows move exactly once), one Arrow block
    # stage, no join operator at all (the pairing happens inside the
    # numpy block)
    plan = _plan(QUERIES["dedup_embedding_incremental"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "FlatMapGroupsInArrow" in plan
    assert "FlatMapGroupsInPandas" not in plan
    assert "Join" not in plan
    assert "BatchEvalPython" not in plan


def test_dsir_and_rocchio_models_reaggregate_not_rescan(spark):
    # the trained selection/classification operators' scale claim:
    # the constant-size bucket/centroid model derives FROM the
    # per-doc counts, so the corpus parquet appears exactly twice in
    # the plan (model subtree + scoring join) — a per-statistic
    # rescan regression would show as 3+ FileScans. No SMJ, no
    # Python anywhere.
    for key in ("dsir_weights", "rocchio_classify", "dsir_resample"):
        plan = _plan(QUERIES[key](spark, SF_DIR))
        assert plan.count("FileScan") == 2, key
        assert "SortMergeJoin" not in plan, key
        assert "BatchEvalPython" not in plan, key
        assert "CartesianProduct" not in plan, key


# ------------------------------------------- global-window audit


#: keys allowed to carry an unpartitioned (single-partition) window,
#: with the exact count observed in their audited plan. Every entry
#: is bounded by construction — NOT by row count:
#:   limit_offset         1  page-sized output under a total order
#:   bootstrap_ci         1  rank over B=32 replicate means
#:   sketch_merge         2  bottom-k over a k=256-row KMV sketch
#:   sample_token_budget  1  offsets over the 64-bucket totals table
#:   ab_kstest            2  blocked-ECDF carry over block totals
#:   value_ecdf           1  (domain/2^16 rows; plan prints the
#:                           reused carry subtree twice in ab_kstest)
#:   ts_changepoint       3  day-calendar series: cum + t + peak rank
#: WindowExec's "No Partition Defined" WARN is logger-suppressed in
#: session.py because these sites made it wall-to-wall noise; THIS
#: audit is the replacement signal — an unplanned global window in
#: any other key (or an extra one here) fails instead of scrolling
#: past in a log tail.
GLOBAL_WINDOW_ALLOWLIST = {
    "ab_kstest": 2,
    "skyline_pareto": 1,  # blocked running-max carry: price-block maxima
    "seq_trigrams": 1,    # rank over the post-limit top-25 rows
    "basket_pairs": 1,    # rank over the post-limit top-25 rows
    "bootstrap_ci": 1,
    "limit_offset": 1,
    "sample_token_budget": 1,
    "sample_weighted": 1,  # 64-row bucket-offset cumsum (prefix-sum line)
    "sample_stratified": 1,  # Hamilton remainder rank over the G-row
                             # stratum-count table (bounded by domain)
    "mix_epochs": 2,  # allocation windows over the G-row per-source
                      # table (budget/weight totals + waterfill order)
    "sketch_merge": 2,
    "ts_changepoint": 3,
    "value_ecdf": 1,
}


@pytest.fixture(scope="module")
def audit_rows(spark):
    """every registry key's PLANAUDIT row, built once by the audit's
    own ``audit_key`` (fresh cache, captured loop and micro-batch
    plans summed) in the `audit` CLI's key order, at its default SF.
    A key whose build raises is recorded as ``{"error": ...}``, so one
    broken key fails the tests below by name instead of aborting the
    walk."""
    from rsbsa_etl_spark.plans.audit import audit_key

    rows = {}
    for k in sorted(QUERIES):
        try:
            rows[k] = audit_key(spark, k, SF_DIR)
        except Exception as e:  # noqa: BLE001 — reported per key
            rows[k] = {"key": k, "error": f"{type(e).__name__}: {e}"}
    return rows


def _build_errors(rows: dict) -> dict:
    return {k: r["error"] for k, r in rows.items() if "error" in r}


def test_registry_plan_hygiene(audit_rows):
    """engine-wide physical-plan invariants, every registry key,
    captured streaming micro-batch and driver-loop plans included:

    - no CartesianProduct anywhere (join_cross is explicit and
      compiles to BroadcastNestedLoopJoin, which is allowed);
    - no BatchEvalPython (row-at-a-time Python UDF) — every Python
      path must be Arrow-batched (MapInPandas / MapInArrow /
      FlatMapGroupsInArrow / FlatMapCoGroupsInPandas /
      ArrowEvalPython / PythonUDTF).
    """
    assert _build_errors(audit_rows) == {}
    bad = {
        k: {c: r[c] for c in ("cartesian", "rowpy") if r[c]}
        for k, r in audit_rows.items()
        if r["cartesian"] or r["rowpy"]
    }
    assert bad == {}


def test_no_unplanned_global_windows(audit_rows):
    """registry-wide: every single-partition window must be on the
    documented allowlist with its exact count — the machine-checked
    replacement for the suppressed WindowExec warning."""
    assert _build_errors(audit_rows) == {}
    got = {
        k: r["global_windows"]
        for k, r in audit_rows.items()
        if r["global_windows"]
    }
    assert got == GLOBAL_WINDOW_ALLOWLIST, (
        "unpartitioned-window audit drifted — new unplanned global "
        f"window or stale allowlist: got {got}"
    )


def test_committed_planaudit_matches_live_plans(audit_rows):
    """drift guard for the committed PLANAUDIT.json: the record is
    regenerated by hand (`python -m rsbsa_etl_spark audit`), so a
    code change that alters plan shape could silently stale it.
    Every key's live row must equal its committed row field for
    field; a mismatch means re-run the audit CLI and commit the
    refreshed JSON alongside the code change."""
    import json
    from pathlib import Path

    committed = {
        r["key"]: r
        for r in json.loads(
            (Path(__file__).resolve().parent.parent / "PLANAUDIT.json")
            .read_text()
        )
    }
    drift = {
        k: {"live": audit_rows.get(k), "committed": committed.get(k)}
        for k in sorted(set(audit_rows) | set(committed))
        if audit_rows.get(k) != committed.get(k)
    }
    assert drift == {}, (
        "PLANAUDIT.json is stale for these keys — regenerate with "
        f"`python -m rsbsa_etl_spark audit` and commit: {drift}"
    )


def test_ann_index_query_prunes_partitions(spark, tmp_path):
    """the persisted IVF index's whole point: the members scan must
    prune to the probed cells at PLANNING time (PartitionFilters on
    the cid partition column — zero I/O for unprobed cells), and the
    served result must equal the in-plan ivf_topk ranking exactly
    (one semantics, two physical strategies)."""
    from rsbsa_etl_spark.functions.similarity import ivf_topk
    from rsbsa_etl_spark.sources.ann_index import (
        build_ivf_index,
        query_ivf_index,
        query_vectors_from_table,
    )
    from rsbsa_etl_spark.sources.fixtures import load

    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "index")
    build_ivf_index(emb, path)
    served = query_ivf_index(spark, path, query_vectors_from_table(emb))
    plan = _plan(served)
    assert "PartitionFilters" in plan
    seg = plan[plan.index("PartitionFilters"):][:200]
    assert "cid" in seg and ("IN" in seg or "isin" in seg.lower()), seg
    assert {tuple(r) for r in served.collect()} == {
        tuple(r) for r in ivf_topk(emb).collect()
    }


def test_ann_index_probes_rank_a_nan_cell_last(spark, tmp_path):
    """the serving path and ``ivf_topk`` share one probe rule: a
    centroid holding a NaN has a NaN distance to every query and must
    be probed LAST, as ``ivf_topk`` ranks it. A plain (d2, cid) tuple
    sort leaves NaN wherever the sort put it — here it probed the NaN
    cell 0 and skipped cell 1."""
    from rsbsa_etl_spark.functions.similarity import ivf_topk
    from rsbsa_etl_spark.sources.ann_index import (
        build_ivf_index,
        query_ivf_index,
        query_vectors_from_table,
    )

    rows = [(0, [float("nan"), 0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0])]
    rows += [
        (i, [1.0 + 0.1 * (i % 3), 0.2 * (i % 2), 0.1 * (i % 5), 0.3])
        for i in range(3, 9)
    ]
    rows += [
        (i, [0.1 * (i % 3), 1.0 + 0.2 * (i % 2), 0.3, 0.1 * (i % 5)])
        for i in range(9, 15)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qids = (4, 10)
    path = str(tmp_path / "index")
    build_ivf_index(emb, path, n_centroids=3)
    served = query_ivf_index(
        spark, path, query_vectors_from_table(emb, qids), k=10, nprobe=2
    )
    want = ivf_topk(emb, qids, k=10, n_centroids=3, nprobe=2).collect()
    assert {tuple(r) for r in served.collect()} == {tuple(r) for r in want}
    assert 0 not in {r.neighbor_id for r in want}  # the NaN cell's member
    assert len(want) == 2 * 10


def test_ann_index_append_matches_full_build(spark, tmp_path):
    """incremental ingest contract: build on half the corpus, append
    the other half (cells assigned by the STORED centroids), and the
    served ranking must be byte-identical to a one-shot full build —
    the frozen-quantizer property that makes the inverted file
    append-only. (Both halves must include the centroid seed rows,
    so the split is by parity above the centroid range.)"""
    from pyspark.sql import functions as F

    from rsbsa_etl_spark.functions.similarity import IVF_CENTROIDS
    from rsbsa_etl_spark.sources.ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        query_ivf_index,
        query_vectors_from_table,
    )
    from rsbsa_etl_spark.sources.fixtures import load

    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    seed = F.col("vec_id") < IVF_CENTROIDS
    first = emb.where(seed | (F.col("vec_id") % 2 == 0))
    second = emb.where(~seed & (F.col("vec_id") % 2 == 1))

    full = str(tmp_path / "full")
    inc = str(tmp_path / "inc")
    build_ivf_index(emb, full)
    build_ivf_index(first, inc)
    append_to_ivf_index(second, inc)

    qv = query_vectors_from_table(emb)
    got_full = {tuple(r) for r in query_ivf_index(spark, full, qv).collect()}
    got_inc = {tuple(r) for r in query_ivf_index(spark, inc, qv).collect()}
    assert got_inc == got_full and len(got_full) > 0


def test_decontam_embedding_broadcasts_eval_side(spark):
    """the decontam trio's embedding arm (round 12) must stay the
    documented bipartite shape: the benchmark/eval side BROADCAST
    against ONE training scan (a BroadcastNestedLoopJoin — the join
    has no equi-condition), never a shuffled or cartesian product —
    the same eval-set-fits-in-a-broadcast bound decontam_overlap
    rides. Backs PLANAUDIT.md's BNLJ-table row for this key."""
    plan = _plan(QUERIES["decontam_embedding"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # the eval side is the broadcast exchange; the training side
    # scans once — two scans of the embeddings file total (the
    # filtered eval subset + the filtered train subset)
    assert plan.count("FileScan") == 2
