"""Registry wrappers — relational core: scans, filters, joins, aggregates, sorts,
set ops, keyed write paths, the e2e sync pipeline, scalar functions,
and windowed/event-time analytics (SURVEY §2.2-§2.7 keys).

Split out of registry.py by family (r12 verdict item 8); the
driver contract is unchanged — ``registry.QUERIES`` re-exports
every wrapper, and each key's oracle stays in oracles.ORACLES.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from rsbsa_etl_spark import params as P
from rsbsa_etl_spark.functions import textstats
from rsbsa_etl_spark.functions.numeric import dec_round, fixed_sum
from rsbsa_etl_spark.functions.strings import apply_table_rules
from rsbsa_etl_spark.functions.temporal import duration_hms, format_manila
from rsbsa_etl_spark.functions.textparse import parse_log_lines
from rsbsa_etl_spark.operators import aggregates, filters, joins, scans, sorts, sync
from rsbsa_etl_spark.operators.aggregates import decimal_sum
from rsbsa_etl_spark.sources.fixtures import load
from rsbsa_etl_spark.streaming import windows as win


def scan_filter_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: keyed full-row scan of lineitem (IN-list pushed to parquet)."""
    df = scans.keyed_scan(load(spark, sf_dir, "lineitem"), "l_orderkey", P.ORDER_KEYS)
    return df.withColumn("l_shipdate", F.unix_seconds("l_shipdate"))


def scan_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2/P1: projected keyed scan — only two column chunks read."""
    return scans.projected_scan(
        load(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_extendedprice"],
        "l_orderkey",
        P.ORDER_KEYS,
    )


def scan_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3/T2: watermark scan of the change-log analog (events)."""
    df = scans.incremental_scan(
        load(spark, sf_dir, "events"), "event_id", P.WATERMARK_EVENT_ID
    )
    return df.select("event_id", "user_id", "event_type", "value")


def scan_file_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-file row provenance via the ``_metadata`` hidden column —
    the lineage primitive of a data lake (which physical file fed
    each row; the reference's logger tracks per-batch provenance,
    ``utils/logger.js``). Reading ``_metadata.file_name`` costs no
    extra I/O: it is populated from the scan's own file listing, and
    the aggregate is the usual partial-then-final count per file."""
    import os as _os

    path = _os.path.join(sf_dir, "lineitem.parquet")
    df = spark.read.parquet(path)
    return (
        df.select(F.col("_metadata.file_name").alias("file_name"))
        .groupBy("file_name")
        .agg(F.count("*").alias("n_rows"))
        .orderBy("file_name")
    )


def agg_count_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/A1: filtered COUNT(*). Null-ness synthesized via nullif so
    the predicate actually rejects rows (fixture has no NULLs)."""
    ev = load(spark, sf_dir, "events").withColumn(
        "maybe_type", F.nullif("event_type", F.lit("error"))
    )
    return scans.count_scan(ev, "maybe_type", "user_id")


def filter_notnull(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: not-null conjunction over synthesized-null columns."""
    ev = (
        load(spark, sf_dir, "events")
        .withColumn("maybe_type", F.nullif("event_type", F.lit("error")))
        .withColumn("maybe_value", F.when(F.col("value") > 5.0, F.col("value")))
    )
    return filters.not_null_filter(ev, "maybe_type", "maybe_value").select(
        "event_id", "maybe_type", "maybe_value"
    )


def filter_split_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: validity routing as a tagged single plan + per-side counts
    (the processed/skipped accounting of ``etlService.js:604-607``)."""
    ev = load(spark, sf_dir, "events")
    cond = (F.col("event_type") != F.lit("error")) & (F.col("value") > 1.0)
    tagged = filters.validity_tag(ev, cond)
    return tagged.groupBy("validity").agg(F.count("*").alias("n_records"))


def _high_value_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "orders").where(
        (F.col("o_totalprice") > P.TARGET_PRICE_MIN)
        & (F.col("o_orderstatus") == P.TARGET_STATUS)
    )


def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: customers with ≥1 high-value order (the 'updates' side)."""
    cust = load(spark, sf_dir, "customer")
    keys = _high_value_orders(spark, sf_dir).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return joins.semi_join(cust, keys, "c_custkey").select("c_custkey", "c_name")


def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: customers with none (the 'inserts' side)."""
    cust = load(spark, sf_dir, "customer")
    keys = _high_value_orders(spark, sf_dir).select(
        F.col("o_custkey").alias("c_custkey")
    )
    return joins.anti_join(cust, keys, "c_custkey").select("c_custkey", "c_name")


def join_bridge_2step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: customer-keys → orders → lineitem(bridge) → part, as one
    declared 3-way join (vs the reference's two SQL round-trips)."""
    orders = scans.keyed_scan(
        load(spark, sf_dir, "orders"), "o_custkey", P.CUST_KEYS
    ).select("o_orderkey", "o_custkey")
    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), F.col("l_partkey").alias("p_partkey")
    )
    part = load(spark, sf_dir, "part").select("p_partkey", "p_name")
    return (
        joins.bridge_join(orders, li, part, "o_orderkey", "p_partkey")
        .select("o_orderkey", "p_partkey", "p_name")
        .distinct()
    )


def join_dependent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: distinct referenced keys from a loaded bridge batch →
    fetch dim rows (``etlService.js:642-654``)."""
    li = scans.keyed_scan(load(spark, sf_dir, "lineitem"), "l_orderkey", P.ORDER_KEYS)
    bridge = li.select(F.col("l_partkey").alias("p_partkey"))
    part = load(spark, sf_dir, "part")
    return joins.dependent_join(bridge, part, "p_partkey").select(
        "p_partkey", "p_name", "p_retailprice"
    )


def groupby_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2/J5: the nested {table→{key→records}} build as a hash agg."""
    return aggregates.grouped_counts(
        load(spark, sf_dir, "events"), "event_type", "user_id"
    )


def distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: Set-dedup of keys."""
    return aggregates.distinct_keys(
        _high_value_orders(spark, sf_dir), "o_custkey"
    )


def agg_sum_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 + flagship (TPC-H-Q1-shaped pricing summary): two-key hash
    agg with decimal-exact sums; partial aggregation means the
    shuffle carries 6 groups, not 600 k rows."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            decimal_sum("l_quantity", 2, "sum_qty"),
            decimal_sum("l_extendedprice", 2, "sum_base_price"),
            fixed_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                6,
                "sum_disc_price",
            ),
            dec_round(
                fixed_sum(F.col("l_quantity"), 2) / F.count("*"), 4
            ).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def sort_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: total order by unique key."""
    ev = load(spark, sf_dir, "events").select(
        "event_id", F.unix_millis("ts").alias("ts_ms")
    )
    return sorts.ordered(ev, "event_id")


def limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: deterministic page under total order (row_number)."""
    ev = load(spark, sf_dir, "events").select("event_id", "event_type")
    return sorts.page(ev, "event_id", P.PAGE_OFFSET, P.PAGE_SIZE)


def sort_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout key over (user_id, value) — first 200 rows of
    the space-filling-curve order (see ``sorts.zorder_key``)."""
    ev = load(spark, sf_dir, "events")
    out = sorts.zorder_layout(
        ev.select("event_id", "user_id", "value"),
        F.col("user_id") % 256,
        F.floor(F.col("value")) % 256,
        k=200,
    )
    return out.select("event_id", "zval")


def topk_recent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: tail-N newest first → TakeOrderedAndProject, no global sort."""
    ev = load(spark, sf_dir, "events")
    out = sorts.top_k_recent(ev, "ts", "event_id", P.TOPK_N)
    return out.select("event_id", F.unix_millis("ts").alias("ts_ms"), "event_type")


def union_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/P5: update/insert split + tagged recombination."""
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    target = _high_value_orders(spark, sf_dir).select(
        F.col("o_custkey").alias("c_custkey")
    )
    updates, inserts = sync.split_update_insert(cust, target, "c_custkey")
    return sync.union_paths(updates, inserts)


def agg_incremental_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """incremental aggregation maintenance: per-user totals stored
    before the watermark, folded with the post-watermark delta batch
    only (``sync.merge_group_totals``). The oracle is the FULL
    recompute over all events — asserting incremental == full, which
    holds because totals are exact scaled-integer sums."""

    def totals(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.count("*").alias("n_rows"),
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).alias(
                "total_cents"
            ),
        )

    ev = load(spark, sf_dir, "events")
    old = totals(ev.where(F.col("event_id") <= P.WATERMARK_EVENT_ID))
    delta = totals(ev.where(F.col("event_id") > P.WATERMARK_EVENT_ID))
    return sync.merge_group_totals(old, delta, "user_id")


def set_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2/E3: INTERSECT ∪ tagged EXCEPT of two customer slices."""
    cust = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    a = cust.where(F.col("c_custkey") % 3 != 0)
    b = cust.where(F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
    return sync.set_compare(a, b)


def window_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import lag_lead_deltas

    return lag_lead_deltas(load(spark, sf_dir, "events"))


def scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import scd2_intervals as _scd2

    return _scd2(load(spark, sf_dir, "events"))


def agg_ols_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import group_ols_slope

    return group_ols_slope(load(spark, sf_dir, "events"))


def quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import quantile_sketch as _qs

    return _qs(load(spark, sf_dir, "events"), width=P.QSKETCH_WIDTH)


def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2: last-write-wins merge — updates (even keys, +10% price)
    over the high-value target set."""
    orders = load(spark, sf_dir, "orders")
    target = _high_value_orders(spark, sf_dir).select(
        "o_orderkey", dec_round(F.col("o_totalprice"), 2).alias("o_totalprice")
    )
    updates = (
        orders.where(F.col("o_orderkey") % P.UPSERT_KEY_MOD == 0)
        .select(
            "o_orderkey",
            dec_round(F.col("o_totalprice") * 1.1, 2).alias("o_totalprice"),
        )
    )
    return sync.upsert_merge(target, updates, "o_orderkey")


def merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """three-action MERGE: deletes (keys %7), upserts (other even
    keys, +10% price) against the high-value target set."""
    orders = load(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    target = _high_value_orders(spark, sf_dir).select(
        "o_orderkey", dec_round(F.col("o_totalprice"), 2).alias("o_totalprice")
    )
    changes = (
        orders.where((k % 7 == 0) | (k % P.UPSERT_KEY_MOD == 0))
        .select(
            "o_orderkey",
            dec_round(F.col("o_totalprice") * 1.1, 2).alias("o_totalprice"),
            F.when(k % 7 == 0, F.lit("D")).otherwise(F.lit("U")).alias("op"),
        )
    )
    return sync.merge_cdc(target, changes, "o_orderkey")


def overwrite_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3: delete-then-insert per key on a one-to-many table — the
    incoming batch carries fewer rows per key (linenumber ≤ 2), so
    surviving row-count per key actually shrinks (real delete)."""
    li = load(spark, sf_dir, "lineitem")
    target = li.where(F.col("l_orderkey") < 1000).select(
        "l_orderkey", "l_linenumber", dec_round(F.col("l_quantity"), 2).alias("l_quantity")
    )
    incoming = (
        li.where(F.col("l_orderkey").isin(list(P.ORDER_KEYS)))
        .where(F.col("l_linenumber") <= 2)
        .select(
            "l_orderkey",
            "l_linenumber",
            dec_round(F.col("l_quantity") + 100, 2).alias("l_quantity"),
        )
    )
    return sync.overwrite_by_key(target, incoming, "l_orderkey")


def _sync_fixture_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the fixture-derived change log shared by the sync pipeline and
    its metrics query: events beyond the watermark routed to
    'customer'/'lineitem' by ``user_id % 3`` (remainder 2 →
    unroutable), key 0 nulled so the validity filter drops rows."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        F.col("event_id").alias("log_id"),
        F.nullif(F.col("user_id"), F.lit(0)).alias("rsbsa_no"),
        F.when(F.col("user_id") % 3 == 0, F.lit("customer"))
        .when(F.col("user_id") % 3 == 1, F.lit("lineitem"))
        .alias("table"),
    )


def sync_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2 A6/A7 derived run metrics (errorRate ``etlService.js:674``,
    capped progress ratio ``etlService.js:728``) over the same
    fixture change log the sync pipeline consumes — one watermark
    scan, one hash agg, per-table explicit columns."""
    from rsbsa_etl_spark.plans.etl_pipeline import sync_metrics as _metrics

    return _metrics(_sync_fixture_changelog(spark, sf_dir), P.WATERMARK_EVENT_ID)


def _sync_fixture_state(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """the FULL incremental-sync pipeline (``plans.etl_pipeline``,
    SURVEY §3.1) over a fixture-derived change log, returning the
    post-sync state of one table.

    Change-log analog: events beyond the watermark, routed to
    'customer' (one-to-one → upsert) or 'lineitem' (one-to-many →
    keyed overwrite) by ``user_id % 3``; key 0 is nulled so the
    validity filter (P4) actually drops rows. Pre-existing targets
    diverge from the sources (lower-cased names / odd keys only) so
    both merge paths do real work.
    """
    from rsbsa_etl_spark.plans.etl_pipeline import run_incremental_sync

    changelog = _sync_fixture_changelog(spark, sf_dir)
    cust = load(spark, sf_dir, "customer")
    src_cust = cust.select(
        F.col("c_custkey").alias("rsbsa_no"), "c_name", "c_mktsegment"
    )
    tgt_cust = cust.where(F.col("c_custkey") % 2 == 0).select(
        F.col("c_custkey").alias("rsbsa_no"),
        F.lower(F.col("c_name")).alias("c_name"),
        "c_mktsegment",
    )
    li = load(spark, sf_dir, "lineitem")
    li_proj = li.select(
        F.col("l_orderkey").alias("rsbsa_no"),
        "l_linenumber",
        dec_round(F.col("l_quantity"), 2).alias("l_quantity"),
    )
    src_li = li_proj
    tgt_li = li_proj.where(F.col("rsbsa_no") % 2 == 1)
    res = run_incremental_sync(
        changelog,
        sources={"customer": src_cust, "lineitem": src_li},
        targets={"customer": tgt_cust, "lineitem": tgt_li},
        since_log_id=P.WATERMARK_EVENT_ID,
    )
    return res.targets[table]


def sync_pipeline_o2o(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 end-to-end, one-to-one branch: watermark scan → validity
    filter → per-table keys → keyed re-fetch → uppercase transform →
    keyed overwrite, one incoming row per key. Returns the final
    customer state."""
    out = _sync_fixture_state(spark, sf_dir, "customer")
    return out.select(
        F.col("rsbsa_no").alias("c_custkey"), "c_name", "c_mktsegment"
    )


def sync_pipeline_o2m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.1 end-to-end, one-to-many branch: same pipeline, keyed
    delete-then-insert. Returns the final lineitem state."""
    out = _sync_fixture_state(spark, sf_dir, "lineitem")
    return out.select(
        F.col("rsbsa_no").alias("l_orderkey"), "l_linenumber", "l_quantity"
    )


def string_upper_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2: per-table uppercase rule application."""
    cust = load(spark, sf_dir, "customer")
    return apply_table_rules(cust, "customer").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def string_concat_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: composite key build + split (`${table}:${key}`) — through
    the library pair (``strings.concat_key`` / ``strings.split_key``),
    the reference's `${table}:${rsbsa_no}` build and
    `key.split(':')[idx]` read (etlService.js:620,628)."""
    from rsbsa_etl_spark.functions.strings import concat_key, split_key

    ev = concat_key(
        load(spark, sf_dir, "events"), ["event_type", "user_id"]
    )
    return split_key(ev, "composite_key", 1, "key_part").select(
        "event_id", "composite_key", "key_part"
    )


def cond_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: coalesce defaulting + conditional banding."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("unknown")).alias(
            "type_nz"
        ),
        F.when(F.col("value") > 50.0, F.lit("high")).otherwise(F.lit("low")).alias(
            "band"
        ),
    )


def ts_format_tz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4: Asia/Manila rendering at the output edge (session stays UTC)."""
    ev = load(spark, sf_dir, "events")
    return ev.select("event_id", format_manila(F.col("ts")).alias("ts_manila"))


def math_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5/F10: per-user activity span (``temporal.epoch_millis`` —
    the `endTime - startTime` ms diff, index.js:134), decomposed
    h/m/s."""
    from rsbsa_etl_spark.functions.temporal import epoch_millis

    ev = load(spark, sf_dir, "events")
    span = ev.groupBy("user_id").agg(
        (epoch_millis(F.max("ts")) - epoch_millis(F.min("ts"))).alias("duration_ms")
    )
    return span.select(
        "user_id", "duration_ms", duration_hms(F.col("duration_ms")).alias("duration_hms")
    )


def text_parse_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7/F6/P6: render events as reference-format log lines (with
    malformed + blank lines injected), then parse back."""
    ev = load(spark, sf_dir, "events")
    line = (
        F.when(F.col("event_id") % 101 == 0, F.lit(""))  # blank → filtered (P6)
        .when(F.col("event_id") % 50 == 0, F.col("event_type"))  # malformed (F9)
        .otherwise(
            F.concat(
                F.lit("["),
                F.date_format("ts", "yyyy-MM-dd HH:mm:ss"),
                F.lit("] "),
                F.col("event_type"),
            )
        )
    )
    lines = ev.select(line.alias("value"))
    return parse_log_lines(lines)


def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11: parse the props JSON column + serialize a struct back,
    through all three jsonops entry points — scalar pull without a
    full parse (``json_get``: codegen'd ``get_json_object``),
    declared-schema struct parse (``parse_props``: ``from_json``, no
    inference scan), and struct serialization (``to_json_struct``)."""
    from rsbsa_etl_spark.functions.jsonops import (
        json_get,
        parse_props,
        to_json_struct,
    )

    ev = parse_props(load(spark, sf_dir, "events"))
    return ev.select(
        "event_id",
        json_get(F.col("props"), "k").cast("long").alias("k_val"),
        F.col("props_struct.k").alias("k_parsed"),
        to_json_struct("event_id", "event_type").alias("j"),
    )


def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import moving_stats

    return moving_stats(load(spark, sf_dir, "events"))


def window_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import trailing_time_stats

    return trailing_time_stats(load(spark, sf_dir, "events"))


def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import rollup_totals

    return rollup_totals(load(spark, sf_dir, "lineitem"))


def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import cube_totals

    return cube_totals(load(spark, sf_dir, "lineitem"))


def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import pivot_status_totals

    return pivot_status_totals(load(spark, sf_dir, "orders"))


def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import unpivot_lineitem_metrics

    return unpivot_lineitem_metrics(load(spark, sf_dir, "lineitem"), P.ORDER_KEYS)


def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import quantity_percentiles

    return quantity_percentiles(load(spark, sf_dir, "lineitem"))


def json_map_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import json_map_entries

    return json_map_entries(load(spark, sf_dir, "events"))


def fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import fuzzy_name_pairs

    return fuzzy_name_pairs(load(spark, sf_dir, "customer"))


def ivf_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.functions.similarity import ivf_assignments
    from rsbsa_etl_spark.operators.analytics import embedding_centroids as _ec

    assigned = ivf_assignments(load(spark, sf_dir, "embeddings"))
    return _ec(assigned.select(F.col("cid").alias("label"), "embedding")).select(
        F.col("label").alias("cid"), "dim", "centroid"
    )


def ivf_train2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """second Lloyd iteration: re-assign every vector to the
    iteration-1 centroids (rebuilt as vectors from the long table —
    fixed-point values, so distances stay engine-exact), then
    recompute per-cell means. Demonstrates the E/M loop composes;
    round N is this same plan stacked N times with the centroid
    table localCheckpointed between rounds."""
    from rsbsa_etl_spark.functions.similarity import assign_to_centroids
    from rsbsa_etl_spark.operators.analytics import embedding_centroids as _ec

    emb = load(spark, sf_dir, "embeddings")
    c1 = ivf_train(spark, sf_dir)
    cvec = c1.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
            lambda s: s["centroid"],
        ).alias("vc")
    )
    assigned = assign_to_centroids(emb, cvec)
    return _ec(assigned.select(F.col("cid").alias("label"), "embedding")).select(
        F.col("label").alias("cid"), "dim", "centroid"
    )


def join_full_outer_nullsafe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J-ext: full-outer null-safe reconciliation of per-key counts
    from two tables (key 0 nulled on both sides so the NULL group
    actually matches)."""
    from rsbsa_etl_spark.operators.joins import full_outer_null_safe

    ev = (
        load(spark, sf_dir, "events")
        .select(F.nullif(F.col("user_id") % 20, F.lit(0)).alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_events"))
    )
    cust = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 1000)
        .select(F.nullif(F.col("c_custkey") % 25, F.lit(0)).alias("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_custs"))
    )
    return full_outer_null_safe(ev, cust, "k")


def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """interval join of event values against declared bands — the
    bin-bucketed equi-join form (see ``joins.range_join``)."""
    from rsbsa_etl_spark.operators.joins import range_join

    ev = load(spark, sf_dir, "events").select("event_id", "value")
    bands = spark.createDataFrame(
        list(P.VALUE_BANDS), schema="band_id INT, lo DOUBLE, hi DOUBLE"
    )
    out = range_join(ev, bands, "value", bin_w=P.RANGE_BIN_W)
    return out.select(
        "event_id", dec_round(F.col("value"), 2).alias("value"), "band_id"
    )


def join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """salted equi-join on a deliberately skewed key (~75% of fact
    rows share key 0): dim replicates ×16, fact salts randomly — the
    output is salt-independent, so the plain join is the oracle."""
    from rsbsa_etl_spark.operators.joins import salted_join

    ev = load(spark, sf_dir, "events")
    fact = ev.select(
        "event_id",
        F.when(F.col("event_id") % 4 != 0, F.lit(0))
        .otherwise(F.col("user_id") % 100)
        .cast("long")
        .alias("skew_key"),
    )
    dim = (
        load(spark, sf_dir, "customer")
        .where(F.col("c_custkey") < 100)
        .select(F.col("c_custkey").cast("long").alias("skew_key"), "c_mktsegment")
    )
    return salted_join(fact, dim, "skew_key")


def join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """runtime-filter join: lineitem pruned by a broadcast hash
    digest of high-value finished orders before the exact join. The
    digest is cost-only — the oracle is the plain inner join."""
    from rsbsa_etl_spark.operators.joins import bloom_pruned_join

    fact = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber")
    dim = _high_value_orders(spark, sf_dir).select(
        F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
    )
    return bloom_pruned_join(fact, dim, "l_orderkey")


def ivf_train3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the general n-iteration Lloyd loop (n=3): E-step (broadcast
    centroids, per-row argmin in the Arrow assignment kernel, zero
    shuffle) then M-step (one hash agg) per round. Each E-step
    collects the centroid table (k·d rows) into its broadcast, which
    cuts the per-round lineage — Catalyst's analysis cost stays
    constant instead of exponential (the ``dedup_clusters``
    discipline) with no localCheckpoint job; the corpus itself is
    never checkpointed, only re-scanned, which is the right trade at
    100 TB (centroids are tiny, the corpus is not).

    Centroid values are fixed-point (1e-6), so rebuilt vectors — and
    therefore distances and cell assignments — are engine-exact and
    the unrolled DuckDB SQL is a value oracle for the whole loop.
    """
    from rsbsa_etl_spark.functions.similarity import (
        assign_to_centroids,
        ivf_assignments,
    )
    from rsbsa_etl_spark.operators.analytics import embedding_centroids as _ec

    def mstep(assigned: DataFrame) -> DataFrame:
        out = _ec(assigned.select(F.col("cid").alias("label"), "embedding"))
        return out.select(F.col("label").alias("cid"), "dim", "centroid")

    emb = load(spark, sf_dir, "embeddings")
    cents = mstep(ivf_assignments(emb))
    for _ in range(2):  # iterations 2..3
        # the assignment kernel COLLECTS cvec at build time — the
        # collected matrix becomes a broadcast, which IS the lineage
        # cut, so no per-round localCheckpoint is needed (r16)
        cvec = cents.groupBy("cid").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("dim", "centroid"))),
                lambda s: s["centroid"],
            ).alias("vc")
        )
        cents = mstep(assign_to_centroids(emb, cvec))
    return cents


def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.joins import asof_join

    events = load(spark, sf_dir, "events")
    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    # tied (user_id, ts) views resolve inside the asof kernel to the
    # max payload struct = max(value) here — deterministic with NO
    # extra shuffle (the oracle states the same rule as a max()
    # pre-aggregation; fixtures have no collisions either way)
    views = events.where(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    joined = asof_join(clicks, views, "user_id", "ts", ["ts", "value"])
    return joined.select(
        "event_id",
        "user_id",
        F.col("value").alias("v_click"),
        F.unix_micros("ts_asof").alias("view_ts_us"),
        F.col("value_asof").alias("v_view"),
    )


def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.functions.textstats import split_assign as _sa

    return _sa(load(spark, sf_dir, "documents"))


def lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.functions.textstats import lm_score as _lm

    return _lm(load(spark, sf_dir, "documents"))


def distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import kmv_distinct

    return kmv_distinct(
        load(spark, sf_dir, "orders"), "o_orderpriority", "o_custkey"
    )


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.operators.analytics import embedding_centroids as _ec

    return _ec(load(spark, sf_dir, "embeddings"))


def window_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    return win.tumbling_counts(load(spark, sf_dir, "events"))


def window_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return win.sliding_counts(load(spark, sf_dir, "events"))


def window_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-user inactivity-gap sessions (flat per-user window —
    semantically one task per user). At scale use
    ``window_session_chunked``: bit-identical sessions with per-task
    input bounded by (user, time-chunk)."""
    return win.sessionize(load(spark, sf_dir, "events"), P.SESSION_GAP_S)


def window_session_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the hot-key dial for window_session: two-level sessionize
    (within (user, 6h-chunk), then merge boundary sessions) —
    bit-identical output, shares the flat key's oracle verbatim."""
    return win.sessionize_chunked(
        load(spark, sf_dir, "events"), P.SESSION_GAP_S
    )


def stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """watermark late-data semantics through the real streaming
    engine (two checkpointed AvailableNow phases) — oracle-checked:
    the emitted window set is a pure function of data + split +
    delay (see ``streaming.windows.late_data_replay``)."""
    return win.late_data_replay(
        load(spark, sf_dir, "events"),
        split_ts=P.STREAM_SPLIT_TS,
        straggler_mod=P.STREAM_STRAGGLER_MOD,
        delay=f"{P.STREAM_WM_DELAY_HOURS} hours",
    )


def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """custom stateful operator (applyInPandasWithState): per-user
    running totals across two checkpointed micro-batches; the final
    state per user equals one grouped aggregation, which is the
    oracle. Values are fixed-point-quantized inside the state so
    accumulation order cannot drift the double sum."""
    from rsbsa_etl_spark.streaming.stateful import run_totals_replay

    return run_totals_replay(load(spark, sf_dir, "events"))


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming exactly-once dedup (dropDuplicatesWithinWatermark)
    across a checkpoint restart with at-least-once redelivery; the
    emitted set equals SELECT-one-row-per-event_id (the oracle)."""
    from rsbsa_etl_spark.streaming.stateful import dedup_replay

    return dedup_replay(load(spark, sf_dir, "events"))


def cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.cms_term_estimates(load(spark, sf_dir, "documents"))


def stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stream-stream interval join through the real engine across a
    checkpoint restart (phase 2 clicks join view rows recovered from
    phase 1 state); with an un-evicting watermark the emitted pairs
    equal the batch interval join, which is the oracle."""
    from rsbsa_etl_spark.streaming.joins import click_view_join_replay

    return click_view_join_replay(load(spark, sf_dir, "events"))


def stream_join_evicting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the watermark-advancing variant: phase-2 clicks behind the
    restored watermark are dropped as late input — the emitted set
    is the batch join minus late-click pairs, stated by the oracle
    (see ``streaming.joins.click_view_join_evicting``)."""
    from rsbsa_etl_spark.streaming.joins import click_view_join_evicting

    return click_view_join_evicting(
        load(spark, sf_dir, "events"),
        delay=f"{P.STREAM_EVICT_DELAY_DAYS} days",
        phase_mod=P.STREAM_EVICT_PHASE_MOD,
    )

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
