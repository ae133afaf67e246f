"""Registry wrappers — profiling/statistics family: column profiling, funnels, sketches,
distribution tests, time-series and the TPC-H suite.

Split out of registry.py by family (r12 verdict item 8); the
driver contract is unchanged — ``registry.QUERIES`` re-exports
every wrapper, and each key's oracle stays in oracles.ORACLES.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from rsbsa_etl_spark.functions import textstats
from rsbsa_etl_spark.scratch import scratch_dir
from rsbsa_etl_spark.sources.fixtures import load


def profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.profiling import profile_columns

    return profile_columns(load(spark, sf_dir, "lineitem"))


def group_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.profiling import group_mode as _gm

    return _gm(load(spark, sf_dir, "events"))


def outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.profiling import zscore_outliers

    return zscore_outliers(load(spark, sf_dir, "events"))


def corr_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.profiling import corr_groups as _cg

    return _cg(load(spark, sf_dir, "lineitem"))


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import funnel_steps

    return funnel_steps(load(spark, sf_dir, "events"))


def events_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """monthly DAU/MAU stickiness ratio — one distinct pass over
    (day, user), counts fold from the deduplicated set."""
    from rsbsa_etl_spark.operators.analytics import dau_mau

    return dau_mau(load(spark, sf_dir, "events"))


def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import retention_cohorts

    return retention_cohorts(load(spark, sf_dir, "events"))


def window_cumdistinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import cumulative_distinct

    return cumulative_distinct(load(spark, sf_dir, "events"))


def skew_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.profiling import skew_stats as _sk

    return _sk(load(spark, sf_dir, "lineitem"))


def inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.inverted_index(load(spark, sf_dir, "documents"))


def term_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.term_pmi(load(spark, sf_dir, "documents"))


def agg_string_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import string_concat_groups

    return string_concat_groups(load(spark, sf_dir, "events"))


def rolling_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import rolling_active_users

    return rolling_active_users(load(spark, sf_dir, "events"))


def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap CI for the mean: per-row pseudo-Poisson(1)
    replicate weights, one map-side pass — error bars on a 100 TB
    aggregate with constant-size state."""
    from rsbsa_etl_spark.operators.profiling import bootstrap_ci as _b

    return _b(load(spark, sf_dir, "events"))


def ab_cuped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al. 2013):
    pre-period covariate adjustment from exact integer moments —
    the industry-standard CI-shrinking companion to ab_ttest."""
    from rsbsa_etl_spark.operators.profiling import ab_cuped as _c

    return _c(load(spark, sf_dir, "events"))


def ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.profiling import ab_ttest as _ab

    return _ab(load(spark, sf_dir, "events"))


def resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import resample_ffill as _rf

    return _rf(load(spark, sf_dir, "events"))


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.sync import snapshot_diff as _sd

    return _sd(load(spark, sf_dir, "orders"))


def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.vocab_coverage(load(spark, sf_dir, "documents"))


def ab_kstest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """two-sample Kolmogorov-Smirnov distance between the hash-split
    arms — exact cross-multiplied ECDF integers, nonparametric
    companion to ab_ttest/ab_cuped."""
    from rsbsa_etl_spark.operators.profiling import ab_kstest as _k

    return _k(load(spark, sf_dir, "events"))


def group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact per-returnflag price quartiles, PERCENTILE_DISC
    semantics (actual elements, no engine-divergent interpolation)."""
    from rsbsa_etl_spark.operators.analytics import group_percentiles as _g

    return _g(load(spark, sf_dir, "lineitem"))


def join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nearest-view-in-time join (either direction) for every click:
    two as-of passes over the shared union-window kernel, closer
    side wins, ties backward."""
    from rsbsa_etl_spark.operators.analytics import join_nearest as _jn

    return _jn(load(spark, sf_dir, "events"))


def scan_jsonl_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingestion with corrupt-record quarantine, end to end:
    render the documents table to JSON-Lines with every 97th doc_id's
    line deterministically truncated (the byte-level corruption real
    crawls contain), read it back with a DECLARED schema in
    PERMISSIVE mode capturing bad lines, and report the
    good/quarantined split plus a value checksum over the good side.
    The oracle derives the same numbers analytically from the
    original table (it knows the corruption rule), so the whole
    write→corrupt→parse→quarantine path is value-checked without the
    oracle ever parsing broken JSON.

    100 TB notes in sources/textdata.py: declared schema (inference
    is a second full scan), PERMISSIVE+capture (FAILFAST kills the
    job on shard 40,000's one bad line; DROPMALFORMED silently loses
    data), quarantine side output. The fixture render coalesces to
    one file only to keep the tempdir tidy at test SFs — production
    reads the sharded layout as-is.
    """
    import os

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from rsbsa_etl_spark.sources.textdata import read_jsonl, split_corrupt

    docs = load(spark, sf_dir, "documents")
    line = F.to_json(F.struct("doc_id", "text", "lang", "source", "n_chars"))
    # NULL-explicit corruption rule: coalesce(doc_id, 1) keeps a
    # hypothetical NULL-doc_id row on the good side in BOTH the rule
    # and the oracle's analytic mirror (a bare `doc_id % 97 == 0`
    # is NULL for NULL keys — Spark's `when` would route it good
    # while the oracle's FILTER would drop it, a latent divergence
    # flagged by the r7 advisor).
    corrupted = F.when(
        F.coalesce(F.col("doc_id"), F.lit(1)) % 97 == 0,
        F.substring(line, 1, F.length(line) - 1),
    ).otherwise(line)
    path = os.path.join(scratch_dir("rsbsa_jsonl_"), "docs")
    docs.select(corrupted.alias("value")).coalesce(1).write.mode(
        "overwrite"
    ).text(path)

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("text", StringType()),
            StructField("lang", StringType()),
            StructField("source", StringType()),
            StructField("n_chars", LongType()),
        ]
    )
    good, bad, parsed = split_corrupt(read_jsonl(spark, path, schema))
    g = good.agg(
        F.count("*").cast("long").alias("n_good"),
        F.sum("n_chars").cast("long").alias("sum_chars_good"),
        F.countDistinct("doc_id").cast("long").alias("n_distinct_good"),
    )
    b = bad.agg(F.count("*").cast("long").alias("n_quarantined"))
    # materialize the 1-row aggregate eagerly (this key already does
    # eager work: the corrupt-file write above), then release the
    # cached parse — callers own the persist per split_corrupt's
    # contract, and holding it would leak one cached parse per
    # invocation across verify/bench sweeps (r7 advisor).
    out = g.join(b).localCheckpoint(eager=True)
    parsed.unpersist()
    return out


def scan_csv_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """typed CSV round-trip: render (orderkey, linenumber, quantity,
    returnflag) from lineitem to headered CSV, read it back with a
    DECLARED schema (no inference — see scan_jsonl_corrupt), and
    aggregate a per-flag checksum the oracle computes from the
    original table — pinning that the CSV writer/parser pair loses
    nothing (doubles round-trip through Spark's repr)."""
    import os

    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from rsbsa_etl_spark.sources.textdata import read_csv, split_corrupt

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"
    )
    path = os.path.join(scratch_dir("rsbsa_csv_"), "li")
    li.coalesce(1).write.mode("overwrite").option("header", True).csv(path)

    schema = StructType(
        [
            StructField("l_orderkey", LongType()),
            StructField("l_linenumber", IntegerType()),
            StructField("l_quantity", DoubleType()),
            StructField("l_returnflag", StringType()),
        ]
    )
    good, _bad, parsed = split_corrupt(read_csv(spark, path, schema))
    out = good.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(
            F.floor(F.col("l_quantity") * 100 + F.lit(0.5)).cast("long")
        ).alias("qty_cents"),
        F.sum("l_orderkey").cast("long").alias("key_sum"),
    ).localCheckpoint(eager=True)  # per-flag rows only; then release
    parsed.unpersist()
    return out


def scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """schema drift across shards — the 100 TB reality that year-2
    data has columns year-1 data lacks: write two parquet batches of
    orders under partition-style dirs (``batch=1`` without
    o_orderstatus, ``batch=2`` with it), read the parent with
    ``mergeSchema`` so the union schema applies and missing columns
    null-fill, and report per-batch counts / non-null status counts /
    a price checksum. The oracle derives all of it analytically from
    the original table. Also exercises partition-column discovery
    (``batch`` comes from the directory name, not the files).

    mergeSchema is a read-time footer union — at scale prefer a
    declared union schema (footer merging lists every file), which
    this op's declared-schema read would mirror; the key pins the
    null-fill semantics either way.
    """
    import os

    orders = load(spark, sf_dir, "orders")
    base = os.path.join(scratch_dir("rsbsa_evo_"), "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    a = orders.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", cents.alias("cents")
    )
    b = orders.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", cents.alias("cents"), "o_orderstatus"
    )
    a.write.mode("overwrite").parquet(f"{base}/batch=1")
    b.write.mode("overwrite").parquet(f"{base}/batch=2")

    merged = spark.read.option("mergeSchema", True).parquet(base)
    return merged.groupBy("batch").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count("o_orderstatus").cast("long").alias("n_status_nonnull"),
        F.sum("cents").cast("long").alias("price_cents"),
    ).select(F.col("batch").cast("int").alias("batch"), "n_rows",
             "n_status_nonnull", "price_cents")


def scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC round-trip (the other columnar format Spark bundles):
    write a lineitem projection as ORC, read it back, aggregate a
    per-linestatus checksum the oracle computes from the original
    parquet — pinning that the second columnar path loses nothing
    (types, nulls, values)."""
    import os

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linestatus",
        F.floor(F.col("l_quantity") * 100 + F.lit(0.5))
        .cast("long")
        .alias("qty_cents"),
    )
    path = os.path.join(scratch_dir("rsbsa_orc_"), "li")
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("l_linestatus").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("qty_cents").cast("long").alias("qty_cents"),
        F.min("l_orderkey").cast("long").alias("min_key"),
        F.max("l_orderkey").cast("long").alias("max_key"),
    )


def winsorize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-event-type winsorized mean of value: clip into the exact
    [p05, p95] band (integer rank-pick bounds) before averaging —
    raw vs winsorized mean plus clip counts."""
    from rsbsa_etl_spark.operators.analytics import winsorize_stats as _w

    return _w(load(spark, sf_dir, "events"))


def window_zscore_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-user trailing-16 rolling z-score with integer-exact
    scaled variance in DECIMAL(38,0)."""
    from rsbsa_etl_spark.operators.analytics import (
        window_zscore_rolling as _wz,
    )

    return _wz(load(spark, sf_dir, "events"))


def resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hourly grid with linear interpolation across gaps (two-sided
    companion to resample_ffill); no extrapolation past the ends."""
    from rsbsa_etl_spark.operators.analytics import (
        resample_interpolate as _ri,
    )

    return _ri(load(spark, sf_dir, "events"))


def trend_theil_sen_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen with a deterministic <=32-events-per-user hash-min
    sample before pairing — the skew dial (496-pair bound/user)."""
    from rsbsa_etl_spark.operators.analytics import (
        trend_theil_sen_capped as _tc,
    )

    return _tc(load(spark, sf_dir, "events"))


def trend_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-user Theil-Sen slope (median of pairwise slopes) — the
    robust companion to agg_ols_slope; quadratic per user only. At
    scale use ``trend_theil_sen_capped``: a deterministic <=32
    events/user sample bounds pairing at 496 pairs/user and agrees
    exactly with this arm for users at or under the cap."""
    from rsbsa_etl_spark.operators.analytics import trend_theil_sen as _ts

    return _ts(load(spark, sf_dir, "events"))


def trend_theil_sen_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the SKEW auto-dial over the two Theil-Sen arms: the statistic
    is the max per-user point count (the exact arm's distributed
    wall IS the hottest user's single C(max_n, 2)-pair task), picks
    every-pair exact under the measured budget and the deterministic
    capped sample above it; integer statistic, oracle-replicated."""
    from rsbsa_etl_spark.operators.analytics import (
        trend_theil_sen_auto as _ta,
    )

    return _ta(load(spark, sf_dir, "events"))


def seq_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top event-type trigrams across user journeys — two lag()
    reads over one partitioned window, no per-user collect."""
    from rsbsa_etl_spark.operators.analytics import seq_trigrams as _t

    return _t(load(spark, sf_dir, "events"))


def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """market-basket 2-itemset support: per-order part-pair counts
    (quadratic per order, linear over orders), top-k."""
    from rsbsa_etl_spark.operators.analytics import basket_pairs as _b

    return _b(load(spark, sf_dir, "lineitem"))


def attribution_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first-touch attribution: purchases credited to the user's
    earliest at-or-before click via one struct-ordered running min."""
    from rsbsa_etl_spark.operators.analytics import (
        attribution_first_touch as _a,
    )

    return _a(load(spark, sf_dir, "events"))


def ab_chisq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chi-square independence test arm x event_type — exact-integer
    cell terms, fixed-point sum; completes the experiment family."""
    from rsbsa_etl_spark.operators.profiling import ab_chisq as _c

    return _c(load(spark, sf_dir, "events"))


def source_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pairwise source-vocabulary overlap: exact Jaccard plus the
    KMV union-sketch estimate, one row per source pair. At scale use
    ``source_overlap_kmv_sketch``: the exact-Jaccard arm's vocabulary
    self-equi-join is corpus-shaped; the sketch mode is sources x k
    rows after one deduped-vocab shuffle."""
    from rsbsa_etl_spark.operators.analytics import source_overlap_kmv as _ov

    return _ov(load(spark, sf_dir, "documents"))


def source_overlap_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the 100 TB mode of source_overlap_kmv: KMV sketch estimate
    only — no vocabulary self-equi-join anywhere in the plan (the
    exact-Jaccard arm is the verification dial, priced for test SFs);
    after the one deduped-vocabulary shuffle the whole computation is
    sources × k rows."""
    from rsbsa_etl_spark.operators.analytics import source_overlap_kmv as _ov

    return _ov(load(spark, sf_dir, "documents"), exact=False)


def skyline_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto frontier of orders (price x recency): sort-based
    skyline on the blocked running-max kernel — no all-pairs test."""
    from rsbsa_etl_spark.operators.analytics import skyline_pareto as _sky

    return _sky(load(spark, sf_dir, "orders"))


def window_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-user truncated dyadic EWMA (alpha=1/2, depth 8): integer
    lag terms, one partitioned window sort, exact in both engines."""
    from rsbsa_etl_spark.operators.analytics import window_ewma as _e

    return _e(load(spark, sf_dir, "events"))


def sketch_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic HyperLogLog distinct-user sketch per event_type
    plus the merged (register-max) global sketch — integer-exact
    registers, one corpus shuffle."""
    from rsbsa_etl_spark.operators.analytics import hll_sketch

    return hll_sketch(load(spark, sf_dir, "events"))


def value_ecdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """empirical CDF of value at every distinct value — second
    consumer of the shared blocked_cumsum ECDF kernel (with
    ab_kstest): per-block windows parallelize, the only global pass
    is over block totals."""
    from rsbsa_etl_spark.operators.profiling import value_ecdf as _e

    return _e(load(spark, sf_dir, "events"))


def benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit with per-digit chi-square
    decomposition — expected frequencies are pre-computed literals,
    the digit comes off the fixed-point integer's decimal string."""
    from rsbsa_etl_spark.operators.profiling import benford_digits as _b

    return _b(load(spark, sf_dir, "events"))


def ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM mean-shift changepoint over the daily value series
    (Page 1954) — the full trace with the peak flagged, in exact
    scaled-integer arithmetic."""
    from rsbsa_etl_spark.operators.analytics import ts_changepoint as _c

    return _c(load(spark, sf_dir, "events"))


def l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al.): quasi-identifier
    groups spanning fewer than L distinct sensitive values are
    flagged — the homogeneity leak k-anonymity misses."""
    from rsbsa_etl_spark.functions.curation import l_diversity as _l

    return _l(load(spark, sf_dir, "documents"))


def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q3_segment_top_orders(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
    )


def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q5_nation_volume(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "region"),
    )


def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q10_returned_customers(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "nation"),
    )


def tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q1_pricing_summary(load(spark, sf_dir, "lineitem"))


def tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q4_priority_late_ship(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem")
    )


def tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q6_forecast_revenue(load(spark, sf_dir, "lineitem"))


def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q12_late_shipment_priority(
        load(spark, sf_dir, "orders"), load(spark, sf_dir, "lineitem")
    )


def tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q13_order_count_distribution(
        load(spark, sf_dir, "customer"), load(spark, sf_dir, "orders")
    )


def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q14_promo_revenue_share(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part")
    )


def tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q7_nation_trade(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
    )


def tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q8_market_share(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "region"),
        load(spark, sf_dir, "part"),
    )


def tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q9_product_profit(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "part"),
    )


def tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q15_top_supplier(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "supplier")
    )


def tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q17_small_quantity_revenue(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part")
    )


def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q18_large_volume_customers(
        load(spark, sf_dir, "customer"),
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
    )


def tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q19_disjunctive_revenue(
        load(spark, sf_dir, "lineitem"), load(spark, sf_dir, "part")
    )


def tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q2_min_cost_supplier(
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
        load(spark, sf_dir, "region"),
    )


def tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q11_important_stock(
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
    )


def tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q16_supplier_count_by_part(
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "supplier"),
    )


def tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q20_dominant_suppliers(
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "part"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
    )


def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q21_waiting_suppliers(
        load(spark, sf_dir, "orders"),
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "supplier"),
    )


def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.plans import tpch

    return tpch.q22_dormant_customers(
        load(spark, sf_dir, "customer"), load(spark, sf_dir, "orders")
    )


def outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import outlier_mad as _mad

    return _mad(load(spark, sf_dir, "events"))


def hhi_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import supplier_hhi

    return supplier_hhi(
        load(spark, sf_dir, "lineitem"),
        load(spark, sf_dir, "supplier"),
        load(spark, sf_dir, "nation"),
    )


def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.joins import cross_pairs

    return cross_pairs(load(spark, sf_dir, "region"), load(spark, sf_dir, "nation"))


def agg_filtered_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.aggregates import conditional_aggs

    return conditional_aggs(load(spark, sf_dir, "lineitem"))


def shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.functions.curation import deterministic_shuffle

    return deterministic_shuffle(load(spark, sf_dir, "documents"))


def event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import event_transitions as _et

    return _et(load(spark, sf_dir, "events"))


def group_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import group_topk as _gt

    return _gt(load(spark, sf_dir, "events"))


def activity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import activity_histogram as _ah

    return _ah(load(spark, sf_dir, "events"))


def ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.ngram_topk(load(spark, sf_dir, "documents"))

# star-import surface (r13 ADVICE): export ONLY this family's own
# public wrappers — without this, `from families.x import *` in the
# registry re-binds every helper import (F, P, load, operator
# modules) into the registry namespace, and a same-named wrapper in
# two families would silently shadow. Computed, so it cannot drift
# from the module's actual wrapper set (the registration guard in
# tests/test_sweep_rotation.py covers the registry side; the
# collision guard covers cross-family shadowing).
__all__ = sorted(
    _n
    for _n, _f in list(globals().items())
    if callable(_f)
    and getattr(_f, "__module__", "") == __name__
    and not _n.startswith("_")
)
