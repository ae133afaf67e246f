"""Windowed / multi-level analytics (extension surface — the
reference has no window functions or grouping sets; SURVEY §2.5
notes O3 as its only windowed access).

- moving aggregates + lag deltas over per-key ordered frames
- ROLLUP multi-level totals
- exact interpolated percentiles

All deterministic: frames are totally ordered by (ts, event_id), so
windowed sums accumulate in identical order in Spark and the DuckDB
oracle; percentile uses the continuous-interpolation definition both
engines share (`percentile` / `quantile_cont`).

Scale notes: a per-key window is one shuffle on the key then a
partition-local sort — at 100 TB the key cardinality (users) spreads
evenly; ROLLUP expands each input row into (levels+1) grouping rows
before the partial aggregate, so the shuffle still carries only
group-level partials; exact percentile requires a sort per group —
use approx_percentile when the group is a hot key.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from rsbsa_etl_spark.functions.numeric import (
    dec_round,
    fixed_sum,
    hex_bigint,
    salted_pri,
)
from rsbsa_etl_spark.operators.aggregates import decimal_sum
from rsbsa_etl_spark.params import THEIL_SEN_CAP


def moving_stats(
    events: DataFrame, frame_rows: int = 5
) -> DataFrame:
    """per-user moving average over the last ``frame_rows`` events
    plus the delta from the previous event — the classic feature-
    engineering window pair."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(-(frame_rows - 1), Window.currentRow)
    return events.select(
        "event_id",
        "user_id",
        dec_round(F.avg("value").over(frame), 6).alias("moving_avg"),
        dec_round(
            F.col("value") - F.coalesce(F.lag("value").over(w), F.col("value")),
            6,
        ).alias("delta_prev"),
    )


def rollup_totals(lineitem: DataFrame) -> DataFrame:
    """multi-level totals: (returnflag, linestatus), per-flag, and
    grand total in one pass — ROLLUP grouping sets with fixed-point
    sums; NULL level markers rendered as 'ALL' for portability."""
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            decimal_sum("l_quantity", 2, "sum_qty"),
            F.count("*").alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


def scd2_intervals(events: DataFrame) -> DataFrame:
    """slowly-changing-dimension type 2: turn a change-record stream
    into versioned rows with [valid_from, valid_to) intervals —
    ``valid_to`` is the NEXT change's timestamp (NULL = current
    version). The warehouse-standard dimension history build; one
    window shuffle on the business key, sort key includes event_id
    so simultaneous changes order deterministically."""
    band = (
        F.when(F.col("value") > 50.0, F.lit("high")).otherwise(F.lit("low"))
    )
    return events.select(
        "user_id",
        "event_id",
        band.alias("attr"),
        F.unix_micros(F.col("ts")).alias("valid_from_us"),
    ).withColumn(
        "valid_to_us",
        F.lead("valid_from_us").over(
            Window.partitionBy("user_id").orderBy("valid_from_us", "event_id")
        ),
    ).withColumn("is_current", F.col("valid_to_us").isNull())


def group_ols_slope(events: DataFrame) -> DataFrame:
    """per-user OLS trend (value vs time) — the custom-UDAF escape
    hatch (SURVEY §2.9 U3) for aggregations Spark's built-ins can't
    express, as a PARTITION-WISE pandas fold: repartition by the
    group key (the only shuffle), then ``mapInPandas`` runs one
    Python invocation per partition and a pandas groupby folds every
    group inside it.

    Why not ``groupBy().applyInPandas``: that API pays the
    Python-call + DataFrame-construction overhead once PER GROUP —
    measured 6× slower on 1 500 small groups (4.8 s → 0.76 s at
    sf0.1). Per-partition amortization is how high-cardinality
    grouped Python aggregation has to run at scale; memory stays
    bounded by one partition (size that with
    ``spark.sql.shuffle.partitions``), and repartition("user_id")
    hash-routes every group wholly into one partition, so the fold
    still sees complete groups.

    Determinism discipline: inputs are integer-quantized on the JVM
    side (epoch-ms, value in cents), the fold accumulates the OLS
    sufficient statistics (Sx, Sy, Sxy, Sxx) as Python ints — exact
    and order-independent — and the single double division at the
    end is written ``float(num)/float(den)``, the same two-roundings
    as the oracle's ``CAST(BIGINT AS DOUBLE)`` division. x is
    centered per group before squaring so Sxx stays far from 2^63.
    """
    import math

    import numpy as np
    import pandas as pd

    pts = (
        # no point without y; no point without x either — a NULL ts
        # has no position on the time axis (r6 null-robustness fix)
        events.where(
            F.col("value").isNotNull() & F.col("ts").isNotNull()
        )
        .select(
            "user_id",
            F.unix_millis(F.col("ts")).alias("x_ms"),
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("y_q"),
        )
        .repartition("user_id")
    )

    def fit_partition(batches):
        pdfs = list(batches)  # complete partition = complete groups
        if not pdfs:
            return
        full = pd.concat(pdfs, ignore_index=True)
        out = []
        for uid, g in full.groupby("user_id", sort=False):
            x = g["x_ms"].to_numpy(dtype=np.int64)
            x = (x - x.min()) // 1000
            y = g["y_q"].to_numpy(dtype=np.int64)
            n = len(x)
            sx, sy = int(x.sum()), int(y.sum())
            sxy, sxx = int((x * y).sum()), int((x * x).sum())
            num, den = n * sxy - sx * sy, n * sxx - sx * sx
            slope = (
                None
                if den == 0
                else math.floor(float(num) / float(den) * 1e6 + 0.5) / 1e6
            )
            out.append((int(uid), n, sy, slope))
        yield pd.DataFrame(out, columns=["user_id", "n", "sum_y_cents", "slope"])

    return pts.mapInPandas(
        fit_partition, "user_id long, n long, sum_y_cents long, slope double"
    )


def lag_lead_deltas(events: DataFrame) -> DataFrame:
    """row-offset window functions (lag/lead): per-user value delta
    and inter-event gap. One shuffle on user_id + partition-local
    sort serves all three offset functions (single Window exchange).
    The sort key includes event_id so equal timestamps order
    deterministically — offset functions over a tied sort are
    engine-lottery otherwise."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_v = F.lag("value").over(w)
    prev_ts = F.lag("ts").over(w)
    return events.select(
        "event_id",
        "user_id",
        dec_round(F.col("value") - prev_v, 2).alias("dvalue"),
        (F.unix_millis(F.col("ts")) - F.unix_millis(prev_ts)).alias("gap_ms"),
        F.lead("event_id").over(w).alias("next_event_id"),
    )


def quantile_sketch(events: DataFrame, width: float = 8.0) -> DataFrame:
    """fixed-bin histogram quantile estimates (p50/p90/p99) per
    group — the deterministic sketch alternative to exact
    percentiles. Exact quantiles need a full sort per group;
    ``approx_percentile``'s t-digest is engine- and merge-order-
    dependent (useless as a cross-engine contract). Width-W binning
    is a histogram sketch whose estimate is a pure function of the
    data: the shuffle carries (group, bin) partial counts — bounded
    by value-range/W per group, not row count — and the estimate is
    the first bin whose cumulative count reaches q·n. Error ≤ W,
    known in advance; at 100 TB the bin table is KBs."""
    b = events.select(
        "event_type",
        F.floor(F.col("value") / width).cast("long").alias("bin"),
    ).where(F.col("bin").isNotNull())  # a NULL value has no bin
    counts = b.groupBy("event_type", "bin").agg(F.count("*").alias("c"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = counts.withColumn("cum", F.sum("c").over(w)).withColumn(
        "n", F.sum("c").over(Window.partitionBy("event_type"))
    )
    return cum.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n_rows"),
        *[
            F.min(F.when(F.col("cum") >= q * F.col("n"), F.col("bin")))
            .cast("long")
            .alias(f"p{int(q * 100)}_bin")
            for q in (0.5, 0.9, 0.99)
        ],
    )


def pivot_status_totals(orders: DataFrame) -> DataFrame:
    """long→wide reshaping: per-priority order totals pivoted by
    status. The pivot values are DECLARED (not discovered) — an
    undeclared ``pivot()`` runs an extra distinct-collect job on the
    driver to learn the columns, a full pass over the table that a
    100 TB scan cannot afford. One hash aggregate, map-side partial,
    shuffle carries (priority × status) partial states only. Missing
    cells surface as 0 on both engines (coalesce)."""
    statuses = ("F", "O", "P")
    wide = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", list(statuses))
        .agg(decimal_sum("o_totalprice", 2, "total"))
    )
    return wide.select(
        "o_orderpriority",
        *[
            dec_round(F.coalesce(F.col(s), F.lit(0.0)), 2).alias(f"total_{s.lower()}")
            for s in statuses
        ],
    )


def unpivot_lineitem_metrics(lineitem: DataFrame, keys) -> DataFrame:
    """wide→long reshaping (melt): the four money/quantity measures
    of a keyed lineitem slice as (metric, val) rows. ``unpivot`` is
    a zero-shuffle narrow op — each input row expands to 4 output
    rows in place; column pruning still reaches the scan (only the
    6 referenced columns are read)."""
    return (
        lineitem.where(F.col("l_orderkey").isin(list(keys)))
        .select(
            "l_orderkey",
            "l_linenumber",
            dec_round(F.col("l_quantity"), 2).alias("quantity"),
            dec_round(F.col("l_extendedprice"), 2).alias("extendedprice"),
            dec_round(F.col("l_discount"), 2).alias("discount"),
            dec_round(F.col("l_tax"), 2).alias("tax"),
        )
        .unpivot(
            ids=["l_orderkey", "l_linenumber"],
            values=["quantity", "extendedprice", "discount", "tax"],
            variableColumnName="metric",
            valueColumnName="val",
        )
    )


def quantity_percentiles(lineitem: DataFrame) -> DataFrame:
    """exact interpolated quartiles of quantity per return flag
    (Spark ``percentile`` == DuckDB ``quantile_cont`` definition)."""
    g = lineitem.groupBy("l_returnflag")
    return g.agg(
        *[
            dec_round(F.percentile("l_quantity", F.lit(q)), 6).alias(f"p{int(q*100)}")
            for q in (0.25, 0.5, 0.75)
        ]
    )


def json_map_entries(events: DataFrame) -> DataFrame:
    """props JSON parsed into a real MAP column, exploded to
    (event_id, key, val) rows — the nested-type path the reference
    never had (its rows are flat JS objects)."""
    m = F.from_json("props", "map<string,bigint>")
    return events.select(
        "event_id", F.explode(m).alias("prop_key", "prop_val")
    )


def fuzzy_name_pairs(customers: DataFrame) -> DataFrame:
    """record linkage: ALL name pairs within edit distance 1 (FastSS
    deletion neighborhoods).

    The RSBSA use case in miniature — finding the same farmer
    registered twice with a typo'd name. All-pairs Levenshtein is
    O(n²·len²) and prefix blocking degenerates when names share long
    prefixes (every TPC-H c_name starts "Customer#0…", so one block
    holds the whole table). Deletion neighborhoods fix recall AND
    cost: two strings are within edit distance 1 iff their
    {self} ∪ {one-char-deleted variants} sets intersect (substitution
    at i → both del-at-i variants equal; insert/delete → one side's
    identity equals the other's deletion), so candidates come from an
    equi-join on variants — (len+1)× row expansion, bucket sizes
    bounded by true near-duplicates — and an exact Levenshtein filter
    removes the false positives that share a variant at distance 2.
    """
    named = customers.select("c_custkey", "c_name")
    n = F.length("c_name")
    deletions = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat(
            F.col("c_name").substr(F.lit(1), i - 1),
            F.col("c_name").substr(i + 1, n),
        ),
    )
    # join on xxhash64(variant), not the variant string: the shuffle
    # carries an 8-byte key instead of a ~20-byte string and the join
    # compares longs. A hash collision only ADDS a candidate pair,
    # which the exact Levenshtein filter below removes — results are
    # identical by construction. persist: the self-join references
    # this subtree twice and AQE does not share the exchange.
    # the join and the distinct carry ONLY (key, variant-hash) — the
    # name strings would triple shuffle bytes through the self-join
    # and the candidate dedup; they rejoin afterward via broadcast
    # (the dimension side is small by definition here; at larger
    # dims, a shuffled join on the already-deduped pair set is still
    # strictly less data than carrying strings through the blowup).
    variants = (
        named.select(
            "c_custkey",
            F.explode(F.array_union(F.array(F.col("c_name")), deletions)).alias("v"),
        )
        .select("c_custkey", F.xxhash64("v").alias("variant"))
        .persist()
    )
    a, b = variants.alias("a"), variants.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.variant") == F.col("b.variant"))
            & (F.col("a.c_custkey") < F.col("b.c_custkey")),
        )
        .select(
            F.col("a.c_custkey").alias("custkey_a"),
            F.col("b.c_custkey").alias("custkey_b"),
        )
        .distinct()
    )
    na = named.select(F.col("c_custkey").alias("custkey_a"), F.col("c_name").alias("name_a"))
    nb = named.select(F.col("c_custkey").alias("custkey_b"), F.col("c_name").alias("name_b"))
    withnames = cand.join(F.broadcast(na), "custkey_a").join(F.broadcast(nb), "custkey_b")
    # thresholded levenshtein runs the banded O(len·k) DP and returns
    # -1 beyond the bound — the exact value is still exact when <= 1
    dist = F.levenshtein(F.col("name_a"), F.col("name_b"), 1)
    return withnames.where(dist >= 0).select(
        "custkey_a", "custkey_b", dist.cast("int").alias("edit_distance")
    )


def embedding_centroids(emb: DataFrame, dims: int = 64) -> DataFrame:
    """per-label centroid, one (label, dim, centroid) row per
    dimension — the aggregation at the heart of k-means/IVF training.

    posexplode → fixed-point per-dimension sums (scaled-integer
    accumulation keeps the result independent of partition order,
    which a plain double avg is not) → descale. The shuffle carries
    (label, dim, partial sum) — labels × dims rows, not the corpus.
    """
    q = 1_000_000.0
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(
            (
                F.sum(F.floor(F.col("x").cast("double") * q + 0.5))
                / q
                / F.count("*")
            ).alias("raw")
        )
        .select(
            "label",
            "dim",
            dec_round(F.col("raw"), 6).alias("centroid"),
        )
    )


def kmv_distinct(
    df: DataFrame, group_col: str, key_col: str, k: int = 1024
) -> DataFrame:
    """K-minimum-values distinct-count sketch per group.

    SURVEY §2.4 notes the reference's exact JS ``Set`` distinct (A3,
    services/etlService.js:99) needs an approximate replacement at
    100 TB. Spark's ``approx_count_distinct`` (HLL++) is the
    production answer but its estimate is engine-specific; KMV over a
    shared md5-derived 32-bit hash is deterministic in any engine, so
    the estimate itself is oracle-checkable. Estimator: with m = the
    k-th smallest distinct hash in [0, 2^32), est = (k-1)·2^32/m;
    groups with fewer than k distinct hashes report the exact count.

    Scale: the distinct on (group, hash) partial-aggregates map-side,
    so the shuffle carries distinct pairs only; the per-group sort is
    partition-local after one hash shuffle. A production variant
    would fold the k-smallest set inside a partial aggregate so state
    stays O(k) per group — expressible via applyInPandas if the
    distinct set itself ever dominates.
    """
    h = hex_bigint(F.md5(F.col(key_col).cast("string")))
    hashed = df.select(F.col(group_col).alias("grp"), h.alias("h")).distinct()
    ranked = hashed.select(
        "grp",
        "h",
        F.row_number().over(Window.partitionBy("grp").orderBy("h")).alias("rn"),
        F.count("*").over(Window.partitionBy("grp")).alias("n"),
    )
    est = F.when(F.col("n") < k, F.col("n").cast("double")).otherwise(
        F.lit(float(k - 1)) * 4294967296.0 / F.col("h")
    )
    return (
        ranked.where(F.col("rn") == F.least("n", F.lit(k)))
        .select(
            F.col("grp").alias(group_col),
            F.col("n").cast("long").alias("n_hashed"),
            dec_round(est, 4).alias("est_distinct"),
        )
    )


def cube_totals(lineitem: DataFrame) -> DataFrame:
    """all 2^n grouping combinations in one pass — CUBE over
    (returnflag, linestatus) adds the per-linestatus marginals that
    ROLLUP's hierarchy omits. Same shuffle economics as ROLLUP: each
    input row expands to the grouping-set rows BEFORE the partial
    aggregate, so the exchange carries group-level partials only.
    """
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            decimal_sum("l_quantity", 2, "sum_qty"),
            F.count("*").alias("n_rows"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "sum_qty",
            "n_rows",
        )
    )


def trailing_time_stats(events: DataFrame, window_s: int = 3600) -> DataFrame:
    """per-user trailing time-RANGE frame (count + fixed-point sum of
    the last hour of activity per event) — the time-based sibling of
    ``moving_stats``'s row frame. A rows frame counts events; a range
    frame expresses "the last hour", which is what rate limits,
    velocity features, and fraud windows actually mean.

    The frame is ordered by integer epoch-µs (never engine-formatted
    time), and the windowed sum accumulates quantized longs, so the
    result is independent of within-frame evaluation order. One
    shuffle on user_id, partition-local sort, same plan shape at any
    scale.
    """
    us = F.unix_micros("ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-window_s * 1_000_000, 0)
    )
    qsum = F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long")).over(w)
    return events.select(
        "event_id",
        "user_id",
        F.count("*").over(w).cast("long").alias("n_1h"),
        dec_round(qsum / 100.0, 2).alias("sum_1h"),
    )


def funnel_steps(events: DataFrame) -> DataFrame:
    """ordered conversion funnel view → click → purchase: a user
    counts for step k only if the step-k event happened strictly
    after their step-(k-1) event. The product-analytics staple that
    plain conditional counts get wrong (they ignore ordering).

    Three aggregation passes over the same user partitioning — the
    per-user step timestamps are integer epoch-µs min-aggregates, so
    each pass is partial-aggregated and shuffles one row per user.
    The final result is a 3-row summary; at 100 TB the per-user
    intermediate is |users|-sized, and AQE coalesces the tiny tail.
    """
    us = F.unix_micros("ts")
    t1 = events.where(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min(us).alias("t_view")
    )
    t2 = (
        events.where(F.col("event_type") == "click")
        .select("user_id", us.alias("t"))
        .join(t1, "user_id")
        .where(F.col("t") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_click"))
    )
    t3 = (
        events.where(F.col("event_type") == "purchase")
        .select("user_id", us.alias("t"))
        .join(t2, "user_id")
        .where(F.col("t") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t_purchase"))
    )
    return (
        t1.select(F.lit(1).alias("step"), F.lit("view").alias("step_name"), "user_id")
        .unionByName(
            t2.select(F.lit(2).alias("step"), F.lit("click").alias("step_name"), "user_id")
        )
        .unionByName(
            t3.select(
                F.lit(3).alias("step"), F.lit("purchase").alias("step_name"), "user_id"
            )
        )
        .groupBy("step", "step_name")
        .agg(F.count("*").alias("n_users"))
        .orderBy("step")
    )


def retention_cohorts(events: DataFrame) -> DataFrame:
    """weekly cohort retention: users bucketed by the week of their
    first event; for each (cohort_week, weeks_since) cell, how many
    distinct users were active. The curation-pipeline freshness /
    engagement matrix.

    Weeks are integer epoch-day arithmetic (epoch_s // 86400 // 7) —
    no calendar functions, so Spark and the oracle agree exactly.
    Two shuffles: first-event per user (partial min), then the
    distinct-count per cell over a |users|·|weeks|-bounded set.
    """
    wk = (F.unix_seconds("ts") / F.lit(86400)).cast("long") / F.lit(7)
    ev = events.select("user_id", wk.cast("long").alias("week"))
    first = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


def event_transitions(events: DataFrame) -> DataFrame:
    """first-order Markov transition matrix over per-user event
    sequences: count of (prev_type → next_type) pairs plus the
    transition probability within each source state. The sequence-
    mining primitive behind session-flow analysis and behavioral
    anomaly detection.

    One window shuffle on user_id builds the lag pairs; the count is
    partial-aggregated into a |types|² matrix, and the per-row
    probability divides by a window sum over that tiny matrix — no
    second pass over the data. Probabilities are fixed-point rounded
    so both engines agree bitwise.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.lag("event_type").over(w).alias("prev_type"),
        F.col("event_type").alias("next_type"),
    ).where(F.col("prev_type").isNotNull())
    counted = pairs.groupBy("prev_type", "next_type").agg(
        F.count("*").alias("n_transitions")
    )
    row_total = F.sum("n_transitions").over(Window.partitionBy("prev_type"))
    return counted.select(
        "prev_type",
        "next_type",
        "n_transitions",
        dec_round(F.col("n_transitions") / row_total, 6).alias("p_transition"),
    )


def group_topk(events: DataFrame, k: int = 3) -> DataFrame:
    """top-k rows per group (highest value per event_type, ties
    broken by event_id) — the per-group ranking SQL's LIMIT cannot
    express. rank-within-partition then filter: one shuffle on the
    group key, partition-local sort, and the filter prunes before
    anything else materializes.

    At scale, a skewed group still sorts all its rows to rank them;
    when k ≪ group size, pre-aggregate a per-partition top-k first
    (Spark does exactly this for global top-k via
    TakeOrderedAndProject; per-group, AQE skew-split keeps partitions
    bounded).
    """
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").desc(), F.col("event_id").asc()
    )
    return (
        events.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            "event_type",
            "rk",
            "event_id",
            dec_round(F.col("value"), 4).alias("value_r"),
        )
    )


def activity_histogram(events: DataFrame) -> DataFrame:
    """distribution of user engagement: for each count of distinct
    active days, how many users have exactly that count. Two-level
    aggregation (per-user distinct days, then histogram over users) —
    both levels partial-aggregate, the second input is |users|-sized.
    The standard engagement-distribution summary a curation pipeline
    uses to pick activity thresholds.
    """
    days = events.select(
        "user_id",
        ((F.unix_seconds("ts") / F.lit(86400)).cast("long")).alias("day"),
    )
    per_user = days.groupBy("user_id").agg(
        F.countDistinct("day").alias("n_active_days")
    )
    return per_user.groupBy("n_active_days").agg(
        F.count("*").alias("n_users")
    )


def _hour_grid(base: DataFrame):
    """shared resample scaffolding: hour bucket (FLOOR of
    epoch-seconds/3600 — truncation would disagree with the oracles'
    integer floor-division for pre-1970 timestamps), per-bucket
    observation agg, per-user span, and the distributed dense grid
    (sequence+explode — no driver loop, no global calendar cross
    join). ``base`` carries each caller's row filter so the two
    resample flavors can differ in NULL policy without duplicating
    the grid construction."""
    hr = F.floor(F.unix_seconds("ts") / F.lit(3600)).cast("long")
    observed = base.groupBy(F.col("user_id"), hr.alias("hr")).agg(
        F.count("*").alias("n_events"),
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("qs"),
    )
    spans = base.groupBy("user_id").agg(
        F.min(hr).alias("hr_min"), F.max(hr).alias("hr_max")
    )
    grid = spans.select(
        "user_id", F.explode(F.sequence("hr_min", "hr_max")).alias("hr")
    )
    return grid.join(observed, ["user_id", "hr"], "left")


def resample_ffill(events: DataFrame) -> DataFrame:
    """time-series regularization: resample each user's event stream
    onto a dense hourly grid (min→max hour per user), with event
    counts per bucket and the running value-sum forward-filled across
    empty buckets — the gap-fill step that precedes any windowed
    model feature or downsampled chart.

    The grid is generated distributed (sequence + explode per user —
    no driver loop, no cross join against a global calendar), the
    observed buckets left-join onto it, and the fill is one
    last-ignoreNulls window per user. Two shuffles total (bucket agg,
    user window); grid size is bounded by users × span-hours, which
    at 100 TB argues for capping the span or bucketing coarser —
    noted here because a dense grid over years × millions of users
    is itself big data.
    """
    j = _hour_grid(events)
    w = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = F.last(F.col("qs"), ignorenulls=True).over(w)
    return j.select(
        "user_id",
        "hr",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        dec_round(filled.cast("double") / F.lit(100.0), 2).alias("ffill_sum"),
    )


def string_concat_groups(events: DataFrame) -> DataFrame:
    """per-user sorted distinct event-type roster as one string —
    the GROUP_CONCAT / string_agg surface. Deterministic because the
    set is sorted before joining (an unordered string_agg is
    partition-order lottery in every engine).

    collect_set → array_sort → array_join stays entirely in the JVM;
    the shuffle carries per-user partial sets, bounded by |types|.
    """
    return events.groupBy("user_id").agg(
        F.array_join(
            F.array_sort(F.collect_set("event_type")), ","
        ).alias("types_csv"),
        F.count("*").alias("n_events"),
    )


def rolling_active_users(events: DataFrame, window_days: int = 7) -> DataFrame:
    """trailing-N-day distinct active users per day — the DAU/WAU
    family. A rolling COUNT(DISTINCT) has no window-function form;
    the scalable rewrite is contribution expansion: dedupe to
    (user, day), emit each pair into the ``window_days`` windows it
    contributes to (sequence + explode — a bounded ×N expansion of
    the already-deduped pair set, NOT of raw events), then one exact
    distinct count per window day. Two partial-aggregated shuffles;
    no self-join, no per-day rescan.

    Days outside the observed range (windows that extend past the
    last day) are clipped against the global [min, max] span.
    """
    day = (F.unix_seconds("ts") / F.lit(86400)).cast("long")
    pairs = events.select("user_id", day.alias("day")).distinct()
    span = events.agg(
        F.min(day).alias("d0"), F.max(day).alias("d1")
    )
    contrib = pairs.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.lit(window_days - 1))
        ).alias("window_day"),
    )
    return (
        contrib.join(F.broadcast(span))
        .where((F.col("window_day") >= F.col("d0")) & (F.col("window_day") <= F.col("d1")))
        .groupBy("window_day")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


def cumulative_distinct(events: DataFrame) -> DataFrame:
    """running distinct-count without a distinct window: per user,
    how many distinct event types they have touched as of each event
    — the classic "COUNT(DISTINCT) OVER is unsupported" rewrite.
    First-occurrence flags (row_number over (user, type) == 1) turn
    the distinct count into a cumulative SUM, which every engine's
    window machinery handles.

    Both windows partition by user_id alone (the first-occurrence
    flag is a lag over the type-sorted order, not a (user, type)
    partitioning), so the plan has ONE exchange and two partition-
    local sorts — plan-asserted. No state blowup; the rewrite is
    exactly what keeps this computable at 100 TB where a
    set-per-row would not be.
    """
    w_first = Window.partitionBy("user_id").orderBy("event_type", "ts", "event_id")
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_type = F.lag("event_type").over(w_first)
    flagged = events.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        F.when(
            prev_type.isNull() | (prev_type != F.col("event_type")), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("is_first"),
    )
    return flagged.select(
        "event_id",
        "user_id",
        F.sum("is_first").over(w_cum).cast("long").alias("n_types_seen"),
    )


def outlier_mad(events: DataFrame, k: float = 3.0) -> DataFrame:
    """robust outlier flagging via median / MAD (median absolute
    deviation) per event type — the heavy-tail-safe complement of
    ``outlier_zscore``: one extreme value shifts a mean/stddev gate
    but leaves the median gate untouched.

    Exactness: medians use the continuous-interpolation percentile
    both engines share, quantized to 6 dp before any arithmetic so
    the deviation column is built from identical doubles; the
    robust z divides by the Hampel-scaled MAD (×1.4826), all
    correctly-rounded IEEE ops.

    Scale shape: two aggregates on the same event_type key (median,
    then median-of-deviations) — group cardinality is tiny, so both
    land in one reduce each and broadcast back; the fact scan is
    read once per pass. Exact per-group medians need a group sort;
    for hot keys at 100 TB swap in approx_percentile and keep the
    same gate."""
    med = events.groupBy("event_type").agg(
        dec_round(F.percentile("value", F.lit(0.5)), 6).alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        dec_round(F.percentile("adev", F.lit(0.5)), 6).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .where((F.col("mad") > 0.0) & (F.col("adev") > F.lit(k) * F.col("mad")))
        .select(
            "event_id",
            "event_type",
            dec_round(F.col("value"), 4).alias("value_r"),
            dec_round(
                F.col("adev") / (F.lit(1.4826) * F.col("mad")), 6
            ).alias("robust_z"),
        )
    )


def supplier_hhi(
    lineitem: DataFrame, supplier: DataFrame, nation: DataFrame
) -> DataFrame:
    """market-concentration audit: the Herfindahl–Hirschman index of
    supplier revenue shares within each supplier nation, plus the
    share of the single largest supplier — the "is this segment
    dominated by one vendor" readout.

    Exactness without float-sum drift: per-supplier revenue is
    accumulated as cent-scaled LONGS (order-independent), the share
    is one long÷long → double divide, and Σ share² re-quantizes at
    8 dp before its long sum — every step bit-identical in the
    oracle.

    Scale shape: the fact shuffles ONCE to (nation, supplier)
    partials; everything after runs on supplier-cardinality data
    (orders of magnitude smaller), where the per-nation total is a
    window over few-per-group rows and the final rollup groups ~25
    nations. No second fact scan, no driver collect."""
    supp = supplier.join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        supplier.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "n_name")
    rev_cents = F.floor(
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))) * F.lit(100.0)
        + F.lit(0.5)
    ).cast("long")
    per_supp = (
        lineitem.select("l_suppkey", "l_extendedprice", "l_discount")
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("n_name", "l_suppkey")
        .agg(F.sum(rev_cents).alias("ri"))
    )
    w = Window.partitionBy("n_name")
    shared = per_supp.select(
        "n_name",
        (F.col("ri").cast("double") / F.sum("ri").over(w).cast("double")).alias(
            "share"
        ),
    )
    return (
        shared.groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            fixed_sum(F.col("share") * F.col("share"), 8, "hhi"),
            dec_round(F.max("share"), 8).alias("top_share"),
        )
        .orderBy("n_name")
    )


def dau_mau(events: DataFrame) -> DataFrame:
    """monthly engagement stickiness: average daily active users over
    monthly active users — the DAU/MAU ratio product analytics tracks
    per month.

    Plan: one distinct over (day, user) — a single corpus shuffle —
    then day-level and month-level counts fold from that same
    deduplicated set; the ratio is arithmetic on two aggregates.
    Deterministic: integer counts, one double division, quantized.
    """
    d = events.select(
        F.date_trunc("month", F.col("ts")).cast("date").alias("month"),
        F.to_date("ts").alias("day"),
        "user_id",
    ).distinct()
    daily = d.groupBy("month", "day").agg(
        F.count_distinct("user_id").alias("dau")
    )
    avg_dau = daily.groupBy("month").agg(
        (F.sum("dau").cast("double") / F.count("*")).alias("avg_dau"),
        F.count("*").alias("n_days"),
    )
    mau = d.groupBy("month").agg(F.count_distinct("user_id").alias("mau"))
    return (
        avg_dau.join(mau, "month")
        .select(
            "month",
            "n_days",
            dec_round(F.col("avg_dau"), 4).alias("avg_dau"),
            "mau",
            dec_round(F.col("avg_dau") / F.col("mau"), 4).alias("stickiness"),
        )
        .orderBy("month")
    )


def burst_detect(events: DataFrame) -> DataFrame:
    """event-rate anomaly detection: flag hourly (event_type, hour)
    bins whose count exceeds ``P.BURST_FACTOR``× the trailing
    ``P.BURST_WINDOW_H``-hour mean — the ops-monitoring / abuse
    detection shape (error-rate spikes, crawl storms).

    Scale: the corpus-sized work is ONE partial-aggregated groupBy
    down to (type, hour) bins; every window after that runs over the
    BINNED table (hours × types rows — KBs at any corpus size), so
    the per-type window partition is never a skew hazard. The frame
    is a RANGE frame over the integer epoch-hour, so gaps (hours
    with zero events) neither contribute to nor break the trailing
    mean — rows-based frames would silently stretch across gaps.

    Determinism: the flag is the pure-integer comparison
    ``n · prev_bins > FACTOR · prev_total`` (no float mean), with an
    absolute floor ``n ≥ BURST_MIN`` so near-empty corpora don't
    flag noise. Bins with no trailing history are never flagged.
    """
    h = F.floor(F.unix_seconds("ts") / 3600).cast("long")
    bins = (
        events.select(F.col("event_type"), h.alias("h"))
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("n"))
    )
    return burst_flags(bins)


def burst_flags(bins: DataFrame) -> DataFrame:
    """trailing-mean burst flag over an already-binned (event_type,
    h, n) table — shared by the batch path above and the streaming
    path (``streaming.windows.burst_replay``), so both produce the
    identical flag set from identical bins."""
    from rsbsa_etl_spark import params as P

    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rangeBetween(-P.BURST_WINDOW_H, -1)
    )
    return bins.select(
        "event_type",
        "h",
        "n",
        F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long").alias("prev_total"),
        F.count("n").over(w).cast("long").alias("prev_bins"),
    ).withColumn(
        "is_burst",
        (
            (F.col("prev_bins") > 0)
            & (F.col("n") >= P.BURST_MIN)
            & (
                F.col("n") * F.col("prev_bins")
                > P.BURST_FACTOR * F.col("prev_total")
            )
        ).cast("int"),
    )


def kmv_merge_eval(docs: DataFrame, k: int | None = None) -> DataFrame:
    """mergeability of the KMV distinct sketch, demonstrated and
    value-checked: per-source bottom-k hash sketches of the token
    vocabulary, MERGED into one corpus sketch, against the sketch
    computed directly over the whole corpus.

    Mergeability is the property that makes sketches usable at
    100 TB — shards sketch locally, only k values per shard travel,
    and the union's bottom-k IS the corpus's bottom-k (any hash in
    the corpus bottom-k has < k smaller hashes globally, hence < k
    smaller in its own shard, hence survives that shard's sketch).
    So ``merged_est == direct_est`` EXACTLY, which is what the
    oracle pins — a sketch whose merge loses information would show
    a value mismatch here, not a vague accuracy drop.

    The corpus-sized work is one distinct on (source, term-hash);
    everything after runs on sketch-sized tables (sources × k rows).
    Output is one row: estimates, the exact distinct count for
    error context, and the equality flag.
    """
    from rsbsa_etl_spark import params as P
    from rsbsa_etl_spark.functions.dedup import shingle_windows

    k = P.SKETCH_MERGE_K if k is None else k
    h = hex_bigint(F.md5(F.col("term")))
    # universe = k-word shingles (thousands of distinct values at
    # every SF — the fixture's flat TOKEN vocabulary is only ~31
    # strings, which would always fall back to exact counting and
    # never exercise the estimator)
    # single distinct, on (source, hash): h is a pure function of the
    # term, so deduping the full shingle strings first would only add
    # a second, fatter shuffle
    terms = (
        docs.select(
            "source", F.explode(shingle_windows(F.col("text"))).alias("term")
        )
        .where(F.col("term").isNotNull())
        .select("source", h.alias("h"))
        .distinct()
        .persist()
    )

    def bottom_k(df: DataFrame, part_cols: list) -> DataFrame:
        w = (
            Window.partitionBy(*part_cols).orderBy("h")
            if part_cols
            else Window.orderBy("h")
        )
        return df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)

    def estimate(sketch: DataFrame) -> DataFrame:
        # est = (k-1)·2^32 / kth-smallest; exact count when < k values
        agg = sketch.agg(
            F.count("*").alias("n"), F.max("h").alias("kth")
        )
        return agg.select(
            F.when(F.col("n") < k, F.col("n").cast("double"))
            .otherwise(F.lit(float(k - 1)) * 4294967296.0 / F.col("kth"))
            .alias("est")
        )

    shard_sketches = bottom_k(terms, ["source"]).select("h").distinct()
    merged_est = estimate(bottom_k(shard_sketches, []).select("h")).select(
        F.col("est").alias("m_est")
    )
    direct_est = estimate(
        bottom_k(terms.select("h").distinct(), []).select("h")
    ).select(F.col("est").alias("d_est"))
    counts = terms.agg(
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("h").alias("exact_distinct"),
    )
    # three 1-row aggregates crossJoined — no driver-side collect
    return (
        counts.crossJoin(merged_est)
        .crossJoin(direct_est)
        .select(
            F.col("n_sources").cast("long").alias("n_sources"),
            dec_round(F.col("m_est"), 4).alias("merged_est"),
            dec_round(F.col("d_est"), 4).alias("direct_est"),
            F.col("exact_distinct").cast("long").alias("exact_distinct"),
            (F.col("m_est") == F.col("d_est")).cast("int").alias("merge_lossless"),
        )
    )


def group_sample_n(events: DataFrame, n: int | None = None) -> DataFrame:
    """exactly-N deterministic sample PER GROUP (event_type), the
    stratified sibling of ``curation.fixed_n_sample`` — eval sets
    and review batches are usually specified per stratum.

    Declared as the plain ranked window (``row_number() OVER
    (PARTITION BY group ORDER BY hash) <= n``) ON PURPOSE: Catalyst
    rewrites rank-limit windows into Partial + Final
    ``WindowGroupLimit`` stages — every map task keeps its local
    top-n per group BEFORE the shuffle, then the final rank runs on
    ≤ tasks·n rows per group. That is exactly the hand-rolled
    two-level top-N, inserted by the optimizer; the manual
    decomposition measured byte-identical and 1.0× the speed of this
    form at 20 M rows / 4 groups (see SCALING.md), so the engine
    keeps the declarative version. The plan shape is pinned in tests
    (two WindowGroupLimit stages), so an optimizer regression would
    surface.

    Determinism: priority is the salted md5 of event_id, ties broken
    by event_id — membership is a pure function of the key.
    """
    from rsbsa_etl_spark import params as P

    pri = salted_pri("gs1", F.col("event_id"))
    n = P.GROUP_SAMPLE_N if n is None else n
    w = Window.partitionBy("event_type").orderBy("pri", "event_id")
    return (
        events.select("event_id", "event_type", pri.alias("pri"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n)
        .select("event_id", "event_type", "rn")
    )


def gap_islands(events: DataFrame) -> DataFrame:
    """activity streaks (gaps-and-islands): for each user, maximal
    runs of CONSECUTIVE active days, with start/end/length — the
    retention-analytics primitive behind "current streak" and
    "longest streak" features.

    The classic formulation: dedupe to (user, day), then
    ``day - dense-row-number`` is constant within a consecutive run
    (both advance by 1 per day), so grouping on that anchor yields
    one row per island. One corpus-sized distinct (partial-
    aggregated) and one per-user window over the user's DISTINCT
    DAYS — bounded by the calendar, not by event volume, so a
    billion-event user costs the same window as a 30-row one.
    """
    day = (F.unix_seconds("ts") / F.lit(86400)).cast("long")
    days = events.select("user_id", day.alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    anchored = days.withColumn(
        "anchor", F.col("day") - F.row_number().over(w)
    )
    return (
        anchored.groupBy("user_id", "anchor")
        .agg(
            F.min("day").alias("start_day"),
            F.max("day").alias("end_day"),
            F.count("*").alias("streak_days"),
        )
        .select("user_id", "start_day", "end_day", "streak_days")
    )


def ts_decompose(events: DataFrame) -> DataFrame:
    """classical time-series decomposition of the daily event-count
    series per event_type: trend (centered 7-day moving average),
    day-of-week seasonality (mean deviation from trend), residual —
    the explainable-anomaly layer on top of ``burst_detect``'s raw
    rate gate ("is Monday always like this, or is today weird?").

    Scale: one partial-aggregated groupBy bins the corpus to
    (type, day); every window/aggregate after that runs on the
    binned table (types × days rows). Only interior days (full
    7-day frame) are emitted — a centered average at the series edge
    is not defined.

    Determinism: everything is computed in 7×-scaled INTEGER
    arithmetic (trend7 = the 7-day count sum, dev7 = 7·n − trend7),
    so sums are order-independent; the only float ops are one
    division per output column followed by the portable fixed-point
    rounding — identical in both engines.
    """
    day = (F.unix_seconds("ts") / F.lit(86400)).cast("long")
    bins = (
        events.select(F.col("event_type"), day.alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("day").rangeBetween(-3, 3)
    framed = bins.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(w).alias("trend7"),
        F.count("n").over(w).alias("frame_n"),
    ).where(F.col("frame_n") == 7)
    dev = framed.withColumn("dev7", F.lit(7) * F.col("n") - F.col("trend7"))
    # renamed grouping keys avoid the self-join ambiguity (seasonal
    # derives from dev)
    seasonal = dev.groupBy(
        F.col("event_type").alias("s_type"),
        F.pmod(F.col("day"), F.lit(7)).alias("dow"),
    ).agg(
        (F.sum("dev7").cast("double") / F.count("*")).alias("seasonal7")
    )
    return (
        dev.join(
            F.broadcast(seasonal),
            (F.col("event_type") == F.col("s_type"))
            & (F.pmod(F.col("day"), F.lit(7)) == F.col("dow")),
        )
        .select(
            "event_type",
            "day",
            "n",
            dec_round(F.col("trend7") / 7.0, 4).alias("trend"),
            dec_round(F.col("seasonal7") / 7.0, 4).alias("seasonal"),
            dec_round((F.col("dev7") - F.col("seasonal7")) / 7.0, 4).alias(
                "residual"
            ),
        )
    )


def rfm_segments(orders: DataFrame) -> DataFrame:
    """RFM customer segmentation — the classic recency / frequency /
    monetary quartile scoring (1–4 per axis, higher = better) that
    BI teams run on the orders fact to rank accounts; the reference's
    sync pipelines feed exactly this kind of downstream scoring.

    Scale shape: one map-side-partial shuffle groups orders to the
    per-customer triple; everything after operates on the
    customer-sized aggregate, which is persisted because it feeds
    three consumers (reference-day agg, quartile agg, scoring). The
    quartile boundaries come from the ``percentile_disc`` AGGREGATE
    — a real distributed aggregate, NOT an ``ntile`` window, whose
    empty PARTITION BY would funnel every customer through one task
    — and the single boundary row is broadcast onto the scoring
    select. No global sort anywhere.

    Exactness: recency is whole days (BIGINT), monetary is a cents
    fixed-point BIGINT sum (order-independent), so every quartile
    boundary is an exact integer both engines pick identically
    (percentile_disc selects an element, never interpolates) and
    every score is an integer comparison — no float tolerance.

    Persist contract: the per-customer aggregate stays cached after
    this returns (the result is lazy; unpersisting here would defeat
    its three reuses). Callers looping many queries should
    ``spark.catalog.clearCache()`` between runs, as bench.py does.
    """
    day = (F.unix_seconds("o_orderdate") / F.lit(86400)).cast("long")
    cust = (
        orders.select(
            F.col("o_custkey").alias("custkey"),
            day.alias("d"),
            F.floor(F.col("o_totalprice") * F.lit(100) + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .groupBy("custkey")
        .agg(
            F.max("d").alias("last_day"),
            F.count("*").alias("frequency"),
            F.sum("cents").alias("cents"),
        )
        .persist()
    )
    ref = cust.agg(F.max("last_day").alias("ref_day"))
    c2 = cust.join(F.broadcast(ref)).select(
        "custkey",
        (F.col("ref_day") - F.col("last_day")).alias("recency_days"),
        "frequency",
        "cents",
    )
    qs = [
        F.expr(
            f"percentile_disc({q}) WITHIN GROUP (ORDER BY {m})"
        ).alias(f"{m[0]}q{i}")
        for m in ("recency_days", "frequency", "cents")
        for i, q in ((1, 0.25), (2, 0.5), (3, 0.75))
    ]
    bounds = c2.agg(*qs)

    def up(c: Column, pre: str) -> Column:
        """1–4, higher metric → higher score."""
        return (
            F.lit(1)
            + (c > F.col(f"{pre}q1")).cast("int")
            + (c > F.col(f"{pre}q2")).cast("int")
            + (c > F.col(f"{pre}q3")).cast("int")
        )

    def down(c: Column, pre: str) -> Column:
        """1–4, LOWER metric → higher score (recency)."""
        return (
            F.lit(1)
            + (c < F.col(f"{pre}q3")).cast("int")
            + (c < F.col(f"{pre}q2")).cast("int")
            + (c < F.col(f"{pre}q1")).cast("int")
        )

    r_s = down(F.col("recency_days"), "r")
    f_s = up(F.col("frequency"), "f")
    m_s = up(F.col("cents"), "c")
    return c2.join(F.broadcast(bounds)).select(
        "custkey",
        "recency_days",
        "frequency",
        dec_round(F.col("cents") / F.lit(100.0), 2).alias("monetary"),
        r_s.cast("int").alias("r_score"),
        f_s.cast("int").alias("f_score"),
        m_s.cast("int").alias("m_score"),
        F.concat(
            r_s.cast("string"), f_s.cast("string"), m_s.cast("string")
        ).alias("segment"),
    )


def ts_autocorr(events: DataFrame) -> DataFrame:
    """autocorrelation of the daily event-count series at lags
    1..max_lag — the seasonality detector behind the day-of-week
    model ``ts_decompose`` assumes (a weekly corpus shows a spike at
    lag 7; a memoryless one decays to ~0 everywhere).

    Lag pairs come from ONE equi-join: each day row explodes into
    (day + L) probes for all max_lag lags, hash-joined back to the
    binned table — day-based lags, so calendar gaps pair correctly
    and never misalign the series the way a row-number lag would.
    The binned table is day-count sized (persisted: it feeds the
    global-stats aggregate and both sides of the pair join), the
    pair table is max_lag× that, and the whole thing sits on top of
    one partial-aggregated shuffle of the raw events.

    Exactness: with S=Σx over N days, the N-scaled centered residual
    f_t = N·x_t − S is an exact BIGINT per day, and the estimator is

        acf_L = Σ_pairs f_t·f_{t+L} / Σ_t f_t²

    (both numerator N² and denominator N² cancel) — pure integer
    arithmetic up to a single double division + the portable
    fixed-point rounding, so both engines agree bit-for-bit with no
    float-summation order anywhere. Magnitude envelope: f_t is
    N×(the day's deviation from the mean), so the sums need
    N³·σ_day² < 2⁶³ — deviations up to ~10⁶ events/day over a
    decade of days; a corpus beyond that envelope should move these
    two sums to DECIMAL(38,0) (DuckDB side: HUGEINT), which changes
    no other part of the plan.

    Persist contract: the binned/residual subtrees stay cached after
    this returns (the result is lazy; they feed multiple consumers).
    Callers looping many queries should ``spark.catalog.clearCache()``
    between runs, as bench.py does.
    """
    # the lag count is params.ACF_MAX_LAG on BOTH sides (no
    # parameter: the oracle could not follow a per-call override)
    from rsbsa_etl_spark.params import ACF_MAX_LAG as lags

    day = (F.unix_seconds("ts") / F.lit(86400)).cast("long")
    # persisted shared subtrees (bins → stats+f, f → den+both join
    # legs); the result is returned lazily so unpersist-here would
    # defeat them — callers that loop queries clear the cache
    # between runs (bench.py does), per the repo's persist pattern
    bins = (
        events.select(day.alias("day"))
        .groupBy("day")
        .agg(F.count("*").alias("x"))
        .persist()
    )
    stats = bins.agg(
        F.count("*").alias("n_days"), F.sum("x").alias("s")
    )
    f = (
        bins.join(F.broadcast(stats))
        .select(
            "day", (F.col("n_days") * F.col("x") - F.col("s")).alias("f")
        )
        .persist()
    )
    den = f.agg(F.sum(F.col("f") * F.col("f")).alias("den"))
    probes = f.select(
        "day",
        F.col("f").alias("fa"),
        F.explode(F.sequence(F.lit(1), F.lit(lags))).alias("lag"),
    ).withColumn("day2", F.col("day") + F.col("lag"))
    pairs = probes.join(
        f.select(F.col("day").alias("day2"), F.col("f").alias("fb")),
        "day2",
    )
    per_lag = pairs.groupBy("lag").agg(
        F.sum(F.col("fa") * F.col("fb")).alias("num"),
        F.count("*").alias("m"),
    )
    # a constant series has den == 0: acf is undefined — NULL, not a
    # DIVIDE_BY_ZERO crash (ANSI mode) and not a NaN the oracle
    # can't mirror (DuckDB x/0 is NULL)
    return per_lag.join(F.broadcast(den)).select(
        F.col("lag").cast("int").alias("lag"),
        F.col("m").alias("n_pairs"),
        F.when(
            F.col("den") != 0,
            dec_round(
                F.col("num").cast("double") / F.col("den").cast("double"), 6
            ),
        ).alias("acf"),
    )


def quantile_bucketize(lineitem: DataFrame) -> DataFrame:
    """equi-depth feature binning: each line item's price mapped to
    its corpus-wide decile bucket — the monotonic binning feature
    transforms (GBDT prep, score calibration, drift monitors) run
    over a fact table before training.

    Same no-global-sort discipline as ``rfm_segments``: the
    n_buckets−1 boundaries come from one ``percentile_disc``
    AGGREGATE pass (distributed; an ntile window here would funnel
    the whole fact table through a single task), broadcast as one
    row, and the bucket id is 1 + the count of boundaries strictly
    exceeded — integer comparisons on exact cents, no float
    tolerance, ties land identically in both engines.
    """
    # bucket count pinned by params.QUANTILE_BUCKETS on both sides
    from rsbsa_etl_spark.params import QUANTILE_BUCKETS as n_buckets

    cents = F.floor(F.col("l_extendedprice") * F.lit(100) + F.lit(0.5)).cast(
        "long"
    )
    base = lineitem.select("l_orderkey", "l_linenumber", cents.alias("cents"))
    qs = [
        F.expr(
            f"percentile_disc({i / n_buckets}) WITHIN GROUP (ORDER BY cents)"
        ).alias(f"q{i}")
        for i in range(1, n_buckets)
    ]
    bounds = base.agg(*qs)
    bucket = F.lit(1)
    for i in range(1, n_buckets):
        bucket = bucket + (F.col("cents") > F.col(f"q{i}")).cast("int")
    return base.join(F.broadcast(bounds)).select(
        "l_orderkey",
        "l_linenumber",
        dec_round(F.col("cents") / F.lit(100.0), 2).alias("price"),
        bucket.cast("int").alias("bucket"),
    )


def window_rolling_median(events: DataFrame) -> DataFrame:
    """centered 7-day rolling MEDIAN of the daily event-count series
    per type — the robust smoother (one spike day shifts a rolling
    mean but not the median). Spark has no median window function;
    the re-expression is a bounded-frame ``collect_list`` +
    ``array_sort`` + middle ``element_at`` — legitimate ONLY because
    the frame is a constant 7 elements (interior days), so the
    per-row array is O(frame), never O(partition). The window input
    is the day-binned table (types × days rows), not raw events; one
    partial-agg shuffle then one window exchange.

    ``array_sort`` makes the nondeterministic ``collect_list`` order
    irrelevant, and the median of 7 BIGINTs is an exact element both
    engines pick identically (the oracle sorts the same 7-list).
    """
    day = (F.unix_seconds("ts") / F.lit(86400)).cast("long")
    bins = (
        events.select(F.col("event_type"), day.alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("event_type").orderBy("day").rangeBetween(-3, 3)
    framed = bins.select(
        "event_type",
        "day",
        "n",
        F.collect_list("n").over(w).alias("frame"),
        F.count("n").over(w).alias("frame_n"),
    ).where(F.col("frame_n") == 7)
    return framed.select(
        "event_type",
        "day",
        "n",
        F.element_at(F.array_sort("frame"), 4).cast("long").alias("med7"),
    )


def state_durations(events: DataFrame) -> DataFrame:
    """time-in-state rollup: how long each user spends in each value
    band (the high/low bands of ``scd2_intervals``) — the telemetry
    aggregation consuming an SCD2 change stream. Interval end = the
    NEXT event's timestamp (one lead window, shuffled once on
    user_id); the final open interval has no end and is excluded,
    exactly as the oracle's lead() produces NULL there. All
    arithmetic is integer microseconds — no float time math.
    """
    band = (
        F.when(F.col("value") > 50.0, F.lit("high")).otherwise(F.lit("low"))
    )
    # ordering by (t0, event_id) ≡ (ts, event_id): unix_micros is
    # strictly monotonic in ts
    w = Window.partitionBy("user_id").orderBy("t0", "event_id")
    iv = events.select(
        "user_id",
        "event_id",
        band.alias("state"),
        F.unix_micros(F.col("ts")).alias("t0"),
    ).withColumn("t1", F.lead("t0").over(w))
    return (
        iv.where(F.col("t1").isNotNull())
        .groupBy("user_id", "state")
        .agg(
            F.sum(F.col("t1") - F.col("t0")).alias("total_us"),
            F.count("*").cast("long").alias("n_intervals"),
        )
    )


def ts_changepoint(events: DataFrame) -> DataFrame:
    """CUSUM changepoint detection over the daily value series — the
    classic mean-shift detector (Page 1954): the cumulative sum of
    deviations from the global mean peaks (in absolute value) at the
    point where the series' mean level shifts. Emits the whole CUSUM
    trace (one row per day) with the peak flagged, which is how the
    statistic is read in practice.

    Exact integer arithmetic throughout: with day totals ``x_i`` in
    1e-4 fixed point, ``n`` days, and grand total ``S``, the scaled
    statistic ``C_t = n·Σ_{i≤t} x_i − t·S`` (equal to n·CUSUM_t,
    same argmax) is computed in DECIMAL(38,0) — the n-fold
    amplification would overflow BIGINT on a years-long series of
    billion-event days, and Spark would raise under ANSI while a
    wrapped build flagged the wrong day. DECIMAL keeps it exact to
    38 digits (DuckDB mirrors with HUGEINT); no float accumulates
    anywhere, and the reported ``cusum`` descales once at the end
    through one correctly-rounded double conversion. Peak = rank 1
    under (|C_t| desc, day asc) — a total order.

    Plan: one partial-agg shuffle to day bins, a 1-row totals
    broadcast, and two windows over the day-count-sized series
    (bounded by the calendar, the rolling_median contract).
    """
    q = 1e4
    daily = (
        events.where(F.col("ts").isNotNull())
        .select(
            F.to_date("ts").alias("day"),
            F.floor(F.col("value") * F.lit(q) + F.lit(0.5))
            .cast("long")
            .alias("vi"),
        )
        .groupBy("day")
        .agg(F.sum("vi").alias("x"))
    )
    totals = daily.agg(
        F.sum("x").alias("s_tot"), F.count("*").alias("n_days")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    wr = Window.orderBy("day")
    cum = (
        daily.join(F.broadcast(totals))
        .withColumn("csum", F.sum("x").over(w))
        .withColumn("t", F.row_number().over(wr).cast("long"))
        .withColumn(
            "c_scaled",
            F.col("n_days").cast("decimal(38,0)") * F.col("csum")
            - F.col("t").cast("decimal(38,0)") * F.col("s_tot"),
        )
    )
    wp = Window.orderBy(F.abs(F.col("c_scaled")).desc(), F.col("day").asc())
    return (
        cum.withColumn("pk", F.row_number().over(wp))
        .select(
            "day",
            dec_round(F.col("x").cast("double") / F.lit(q), 4).alias(
                "daily_total"
            ),
            dec_round(
                F.col("c_scaled").cast("double")
                / F.col("n_days")
                / F.lit(q),
                4,
            ).alias("cusum"),
            (F.col("pk") == 1).alias("is_peak"),
        )
    )


#: HyperLogLog constants — m = 64 registers, 6 bucket bits, ranks in
#: [1, 27] over the remaining 26 hash bits, α_64 from Flajolet et al.
#: Fig. 3. NOT parameters: bucket shift, max rank, and alpha are a
#: matched set; exposing m alone (an earlier draft did) silently
#: biased any non-default value. Registers and estimates are shared
#: verbatim by the streaming twin via _hll_registers/_hll_fold.
HLL_M = 64
HLL_BUCKET_BITS = 6
HLL_MAX_RANK = 27
HLL_ALPHA = 0.709


def _hll_registers(events: DataFrame) -> DataFrame:
    """(event_type, bucket) → max rank — the one corpus pass."""
    from rsbsa_etl_spark.functions.numeric import salted_pri

    h = salted_pri("hll", F.col("user_id"))
    w = F.shiftrightunsigned(h, HLL_BUCKET_BITS)
    rank = F.when(w == 0, F.lit(HLL_MAX_RANK)).otherwise(
        F.lit(HLL_MAX_RANK) - F.length(F.bin(w))
    )
    return (
        events.where(F.col("user_id").isNotNull())
        .select(
            "event_type",
            (h % HLL_M).alias("bucket"),
            rank.alias("r"),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("r").alias("reg"))
    )


def _hll_fold(regs: DataFrame) -> DataFrame:
    """register tables → per-group + merged ('ALL') estimates."""
    # the union sketch IS the per-bucket register max of the group
    # sketches — computed from the (groups × m)-row register table,
    # not a second corpus pass: the mergeability property, executed
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("reg").alias("reg"))
        .select(F.lit("ALL").alias("event_type"), "bucket", "reg")
    )
    per_group = regs.unionByName(merged).groupBy("event_type").agg(
        # shiftleft's PySpark wrapper wants a literal bit count; the
        # SQL form takes a column
        F.sum(
            F.expr(f"shiftleft(1L, CAST({HLL_MAX_RANK} - reg AS INT))")
        ).alias("z_scaled"),
        F.count("*").alias("n_used"),
    )
    full = float(1 << HLL_MAX_RANK)
    est = (
        F.lit(HLL_ALPHA * HLL_M * HLL_M * full)
        / (
            F.col("z_scaled")
            # empty registers contribute 2^0·2^27 each to Z_scaled
            + (F.lit(HLL_M) - F.col("n_used")) * F.lit(full)
        )
    )
    return per_group.select(
        "event_type",
        (F.lit(HLL_M) - F.col("n_used").cast("long")).alias(
            "n_zero_registers"
        ),
        F.col("z_scaled").cast("long").alias("z_scaled"),
        dec_round(est, 4).alias("hll_raw_est"),
    )


def hll_sketch(events: DataFrame) -> DataFrame:
    """deterministic HyperLogLog (Flajolet et al. 2007) distinct-user
    estimate per event_type plus the MERGED global sketch — the
    register-max mergeability twin of ``kmv_merge_eval``: the global
    row's registers are the per-bucket MAX over the group sketches,
    computed from the (groups × m)-row register table rather than a
    second corpus pass — HLL union is register max, the property that
    lets 1000 shards sketch 100 TB locally and ship m bytes each.

    Determinism/portability discipline (the engine-parity contract):
    the standard HLL uses leading-zero counts and a log-based
    small-range correction — both engine-divergent. Here every step
    is integer-exact in both engines:

    - hash: the shared ``salted_pri`` u32 draw (salt 'hll');
    - bucket: ``hash % 64``; rank: ``27 − bitlen(hash >> 6)`` via the
      binary-string length (``bin()`` exists in Spark AND DuckDB;
      w = 0 ranks 27) — no clz, no log2;
    - the harmonic denominator Z = Σ 2^−M_j is held SCALED as the
      integer Σ 2^(27−M_j) (shiftleft; M ≤ 27 so each term and the
      64-term sum fit easily in a long), so the raw estimate
      α·m²·2^27 / Z_scaled is ONE correctly-rounded double division
      of exact integers — bit-identical everywhere. No log-based
      linear-counting correction (n_zero_registers is emitted so a
      consumer can apply their own); at m = 64 the raw estimate's
      ~13% rse is the documented trade for 64 longs of state.

    Plan: ONE partial-agg shuffle of the corpus to (group, bucket)
    register maxima; the merge and the per-group folds run on
    register tables of ≤ groups × m rows.
    """
    return _hll_fold(_hll_registers(events))


def window_ewma(events: DataFrame, depth: int | None = None) -> DataFrame:
    """exponentially weighted moving average of ``value`` per user —
    the trend-smoothing primitive time-series dashboards apply before
    thresholding. The textbook recursive EWMA (s_t = α·x_t +
    (1−α)·s_{t−1}) is order-serial and float-drifting; this is the
    α = 1/2 truncated form: the trailing ``depth`` observations
    weighted 2^0 (oldest in window) … 2^(depth−1) (current).

    Exactness: dyadic weights make every term integer — value in
    1e-4 fixed point times a power of two, summed as longs; missing
    lags (the first rows of each user) drop both their term AND
    their weight from the denominator, so early rows average over
    what exists. One correctly-rounded double division at the end —
    bit-identical across engines, no pow(), no float accumulation.
    NULL value/ts rows carry no position and are filtered (engine
    NULL-ordering convention).

    Plan: one shuffle on user_id; the ``depth`` lag() terms all share
    ONE partitioned window sort. State per row is ``depth`` longs —
    constant — and partitions parallelize by user at any scale.

    ``depth`` defaults to ``params.EWMA_DEPTH`` — the SAME constant
    the oracle's lag unroll is generated from (the ZSCORE_WINDOW
    single-sourcing pattern), so a depth change cannot silently
    diverge the two engines.
    """
    from rsbsa_etl_spark.params import EWMA_DEPTH

    depth = EWMA_DEPTH if depth is None else depth
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    vi = F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long")
    base = events.where(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    ).select("event_id", "user_id", "ts", vi.alias("vi"))
    num = F.lit(0).cast("long")
    den = F.lit(0).cast("long")
    for i in range(depth):
        weight = 1 << (depth - 1 - i)
        lagged = F.lag("vi", i).over(w) if i else F.col("vi")
        num = num + F.coalesce(lagged * F.lit(weight), F.lit(0))
        den = den + F.when(lagged.isNotNull(), F.lit(weight)).otherwise(
            F.lit(0)
        )
    return base.select(
        "event_id",
        "user_id",
        dec_round(num.cast("double") / den / F.lit(1e4), 6).alias("ewma"),
    )


def skyline_pareto(orders: DataFrame) -> DataFrame:
    """2-D Pareto skyline of orders under (higher total price, more
    recent order date) — the multi-criteria "best offers" operator
    (Börzsönyi et al., ICDE 2001): a row survives iff no other row is
    ≥ on both axes and > on at least one. Exact duplicates (same
    price, same day) are mutually non-dominating and all survive.

    The naive skyline is an all-pairs dominance test. The sort-based
    identity used here: with prices grouped distinct and D(p) =
    max order-day at price p, a row (p, d) is in the skyline iff
    d > max{D(p') : p' > p} (no strictly-pricier order is as recent)
    AND d = D(p) (it is its own price group's most recent — same-price
    rows with older dates are dominated within the group). That outer
    running max over descending price is ``blocked_running`` with
    agg=max, exclusive — the third consumer of the blocked kernel,
    so the only global pass runs over price-block maxima, never rows.

    Exactness: price in cents, date in epoch days — integer dominance
    tests, no float compares. Plan: one groupBy(price) shuffle, the
    blocked running max, one equi-join back on price (both sides
    already hashed by price).
    """
    from rsbsa_etl_spark.operators.profiling import blocked_running

    pi = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
    di = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    base = orders.where(
        F.col("o_totalprice").isNotNull() & F.col("o_orderdate").isNotNull()
    ).select(
        "o_orderkey",
        pi.alias("pi"),
        di.alias("di"),
    )
    per_p = base.groupBy("pi").agg(F.max("di").alias("dmax"))
    # ascending -pi == descending price; arithmetic shift keeps
    # block order correct for the negated key
    runs = blocked_running(
        per_p.withColumn("np", -F.col("pi")), "np", ["dmax"], "max", False
    ).select("pi", "dmax", F.col("dmax_run").alias("m_pricier"))
    return (
        base.join(runs, "pi")
        .where(
            (F.col("m_pricier").isNull() | (F.col("di") > F.col("m_pricier")))
            & (F.col("di") == F.col("dmax"))
        )
        .select(
            "o_orderkey",
            dec_round(F.col("pi").cast("double") / 100, 2).alias(
                "o_totalprice"
            ),
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("di").cast("int")).alias(
                "o_orderdate"
            ),
        )
    )


def source_overlap_kmv(
    docs: DataFrame, k: int | None = None, exact: bool = True
) -> DataFrame:
    """pairwise corpus-overlap matrix: for every pair of sources, the
    bottom-k (KMV) sketch estimate of the Jaccard similarity of
    their shingle vocabularies — and, in the default verification
    mode, the exact Jaccard alongside it, so the sketch's error is
    itself part of the checked output (Beyer et al. 2007,
    "distinct-value synopses over set operations": J_est =
    |U_k ∩ A ∩ B| / k over the union's bottom-k). The curation
    question is "how much does crawl A duplicate crawl B".

    Scale split, now a dial: ``exact=True`` (the verification arm)
    adds the expensive path — a self-equi-join of the (source, hash)
    vocabulary on hash, one corpus-vocabulary-shaped shuffle —
    priced acceptable at test SFs because vocabulary tables are
    corpus-sublinear. ``exact=False`` (the 100 TB mode, registry key
    ``source_overlap_kmv_sketch``) drops that join entirely: after
    the one deduped-vocabulary shuffle that every mode needs, the
    sketch path touches only sources × k rows TOTAL (per-source
    bottom-k via a partitioned window), so per-pair cost is
    corpus-independent and the plan has no sort-merge join. The
    exact arm's observed error at every SF is the evidence that the
    sketch-only mode is safe to ship.

    Outputs: exact mode → (a, b, n_inter, n_union, j_exact, j_kmv);
    sketch mode → (a, b, k_eff, j_kmv). Pairs are ordered a < b
    lexicographically; the pair table itself is a tiny
    distinct-sources self-join (no driver collect).
    """
    from rsbsa_etl_spark import params as P
    from rsbsa_etl_spark.functions.dedup import shingle_windows

    k = P.SKETCH_MERGE_K if k is None else k
    h = hex_bigint(F.md5(F.col("term")))
    sh = (
        docs.select(
            "source", F.explode(shingle_windows(F.col("text"))).alias("term")
        )
        .where(F.col("term").isNotNull())
        .select("source", h.alias("h"))
        .distinct()
        .persist()
    )

    # per-source bottom-k sketch: sources × k rows total after the
    # partitioned window — every downstream sketch op is
    # corpus-independent
    wk = Window.partitionBy("source").orderBy("h")
    skt = (
        sh.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= k)
        .select("source", "h")
    )

    if exact:
        # exact pair overlap (verification arm): one equi-join on
        # hash; |A∪B| by inclusion-exclusion from per-source totals
        # (broadcast — one row/source)
        sizes = sh.groupBy("source").agg(F.count("*").alias("n"))
        inter = (
            sh.alias("x")
            .join(sh.alias("y"), "h")
            .where(F.col("x.source") < F.col("y.source"))
            .groupBy(
                F.col("x.source").alias("a"), F.col("y.source").alias("b")
            )
            .agg(F.count("*").alias("n_inter"))
        )
        pairs = (
            sizes.alias("sa")
            .join(sizes.alias("sb"))
            .where(F.col("sa.source") < F.col("sb.source"))
            .select(
                F.col("sa.source").alias("a"),
                F.col("sb.source").alias("b"),
                F.col("sa.n").alias("na"),
                F.col("sb.n").alias("nb"),
            )
            .join(F.broadcast(inter), ["a", "b"], "left")
            .withColumn("n_inter", F.coalesce("n_inter", F.lit(0)))
        )
    else:
        # sketch-only: pair enumeration from the sketch's own source
        # set (sources × k rows) — the vocabulary table is touched
        # exactly once, by the bottom-k window above
        srcs = skt.select("source").distinct()
        pairs = (
            srcs.alias("sa")
            .join(srcs.alias("sb"))
            .where(F.col("sa.source") < F.col("sb.source"))
            .select(
                F.col("sa.source").alias("a"),
                F.col("sb.source").alias("b"),
            )
        )

    # per-pair union bottom-k over ≤ 2k rows — corpus-independent.
    # The pair→sketch attach is an EQUI-join on source (each pair
    # exploded to its two member rows): the previous OR-condition
    # join ((source=a)|(source=b)) has no equi-key, so the planner
    # could only BroadcastNestedLoopJoin pairs × the whole sketch
    # table — sources²·k·sources comparisons vs a hash probe per
    # sketch row (guide §3.1). Row multiset is identical: a sketch
    # row matched a pair iff its source is one of the two members.
    u = (
        pairs.select(
            "a", "b", F.explode(F.array("a", "b")).alias("source")
        )
        .join(skt, "source")
        .groupBy("a", "b", "h")
        .agg(
            F.max((F.col("source") == F.col("a")).cast("int")).alias("in_a"),
            F.max((F.col("source") == F.col("b")).cast("int")).alias("in_b"),
        )
    )
    wu = Window.partitionBy("a", "b").orderBy("h")
    est = (
        u.withColumn("rn", F.row_number().over(wu))
        .where(F.col("rn") <= k)
        .groupBy("a", "b")
        .agg(
            F.count("*").alias("k_eff"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
        )
    )
    j_kmv = dec_round(
        F.col("n_both").cast("double") / F.col("k_eff"), 6
    ).alias("j_kmv")
    if not exact:
        # est already carries every (a, b) pair — no join back
        return est.select(
            "a", "b", F.col("k_eff").cast("long").alias("k_eff"), j_kmv
        )
    return (
        # est is sources²-bounded: broadcast it rather than letting
        # the planner sort-merge two window outputs with no stats
        pairs.join(F.broadcast(est), ["a", "b"])
        .select(
            "a",
            "b",
            F.col("n_inter").cast("long").alias("n_inter"),
            (F.col("na") + F.col("nb") - F.col("n_inter"))
            .cast("long")
            .alias("n_union"),
            dec_round(
                F.col("n_inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("n_inter")),
                6,
            ).alias("j_exact"),
            j_kmv,
        )
    )


def seq_trigrams(events: DataFrame, topk: int = 25) -> DataFrame:
    """top event-type TRIGRAMS across user journeys — order-sensitive
    behavioral pattern mining ("view → click → purchase"), the
    sequence analogue of event_transitions' bigram matrix.

    Each user's event stream (ordered by ts with event_id tiebreak)
    contributes one trigram per position; two lag() reads over ONE
    partitioned window sort build them — no per-user collect, no
    explode, state per row is two strings. Counting is a plain
    partial-agg; the final top-k is a TakeOrdered over the (types³
    ≤ 125)-row pattern table. Ties break lexicographically for a
    total order. NULL ts/event_type rows carry no position and are
    filtered in both engines.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    base = events.where(
        F.col("ts").isNotNull()
        & F.col("event_type").isNotNull()
        & F.col("user_id").isNotNull()
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.lag("event_type", 2).over(w).alias("t1"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.col("event_type").alias("t3"),
    )
    counts = (
        base.where(F.col("t1").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count("*").alias("n"))
    )
    # top-k via orderBy+limit (TakeOrderedAndProject — distributed
    # heap, no global sort); the rank window then runs over ≤ topk
    # rows, so the global-window audit sees a bounded input
    order = [
        F.col("n").desc(), F.col("t1").asc(), F.col("t2").asc(),
        F.col("t3").asc(),
    ]
    wr = Window.orderBy(*order)
    return (
        counts.orderBy(*order)
        .limit(topk)
        .withColumn("rk", F.row_number().over(wr))
        .select("t1", "t2", "t3", F.col("n").cast("long").alias("n"),
                F.col("rk").cast("long").alias("rk"))
    )


def basket_pairs(lineitem: DataFrame, topk: int = 25) -> DataFrame:
    """market-basket co-occurrence: the part pairs most often bought
    in the SAME order (the support count of 2-itemsets — the Apriori
    first rung, and the input to lift/confidence scoring).

    The pair explosion self-joins lineitem on orderkey — quadratic
    PER ORDER, linear over orders, the canonical shape (an order has
    a handful of lines; the join never pairs across orders). Parts
    are deduped within an order first (distinct) so quantity splits
    don't double-count, and p1 < p2 keeps each pair once. The final
    top-k runs over the pair-count table, ties broken by part keys
    for a total order.
    """
    op = lineitem.where(
        F.col("l_orderkey").isNotNull() & F.col("l_partkey").isNotNull()
    ).select("l_orderkey", "l_partkey").distinct()
    pairs = (
        op.alias("a")
        .join(op.alias("b"), "l_orderkey")
        .where(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .groupBy(
            F.col("a.l_partkey").alias("p1"),
            F.col("b.l_partkey").alias("p2"),
        )
        .agg(F.count("*").alias("support"))
    )
    # top-k via orderBy+limit (TakeOrderedAndProject) — the pair
    # table is corpus-shaped at scale, so it must never feed a
    # single-partition rank; the rank window sees ≤ topk rows
    order = [
        F.col("support").desc(), F.col("p1").asc(), F.col("p2").asc()
    ]
    wr = Window.orderBy(*order)
    return (
        pairs.orderBy(*order)
        .limit(topk)
        .withColumn("rk", F.row_number().over(wr))
        .select(
            F.col("p1").cast("long").alias("p1"),
            F.col("p2").cast("long").alias("p2"),
            F.col("support").cast("long").alias("support"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


def attribution_first_touch(events: DataFrame) -> DataFrame:
    """first-touch attribution: every purchase credited to the
    user's EARLIEST click at-or-before the purchase — the marketing
    twin of ``join_asof`` (which is last-touch by construction).

    One partitioned window, no join: a running min over the
    click-only ts (struct-ordered so the credited click's value
    rides along atomically — the same whole-row trick the as-of
    join uses to avoid stitching fields from different rows).
    Purchases with no prior click keep NULLs (outer semantics).
    NULL ts rows are filtered; Spark's nulls-first ordering would
    otherwise feed them into every running min.
    """
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    base = events.where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    click_struct = F.when(
        F.col("event_type") == "click",
        F.struct(F.col("ts").alias("cts"), F.col("event_id").alias("cid"),
                 F.col("value").alias("cval")),
    )
    credited = base.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        F.min(click_struct).over(w).alias("first_click"),
    )
    return credited.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.col("value").alias("purchase_value"),
        F.col("first_click.cid").alias("click_event_id"),
        F.unix_micros(F.col("first_click.cts")).alias("click_ts_us"),
        F.col("first_click.cval").alias("click_value"),
    )


def trend_theil_sen(events: DataFrame) -> DataFrame:
    """per-user Theil–Sen trend: the MEDIAN of all pairwise slopes —
    the robust companion to ``group_ols_slope`` (OLS breaks under a
    single wild outlier; the pairwise-slope median has a 29.3%
    breakdown point — Sen 1968).

    Pair generation self-joins each user's events against themselves
    — quadratic PER USER, linear over users (the ``basket_pairs``
    shape): group sizes are bounded by per-user activity, never by
    the corpus, and the join never pairs across users. Same-timestamp
    pairs carry no slope and are dropped (the standard convention).

    Exactness: slope in cents/day = (Δcents · 86 400 000) / Δms —
    the scaled numerator stays under 2^53 so the single double
    division is correctly rounded, then quantized to 1e-6 before the
    median pick. Median = the lower median (element at ceil(n/2) in
    slope order, deterministic under duplicates), selected by a
    PARTITIONED rank window — no global sort anywhere.
    """
    return _theil_sen(_ts_points(events))


def _ts_points(events: DataFrame) -> DataFrame:
    return events.where(
        F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    ).select(
        "user_id",
        "event_id",
        F.unix_millis(F.col("ts")).alias("x_ms"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("y_q"),
    )


def trend_theil_sen_capped(events: DataFrame) -> DataFrame:
    """the documented skew dial for ``trend_theil_sen``: a
    deterministic hash-min sample of ≤ ``THEIL_SEN_CAP`` (32) events
    per user BEFORE pairing bounds the per-user work at 496 pairs
    regardless of how power-law the activity distribution is — the
    ``dedup_containment_capped`` pattern applied to robust trends.
    The sample is a pure function of (salt, event_id), so the capped
    estimate is reproducible and the oracle replays it exactly. On
    users at or under the cap the two keys agree exactly.
    """
    return _theil_sen(_ts_points_capped(_ts_points(events)))


def _ts_points_capped(pts: DataFrame) -> DataFrame:
    """deterministic ≤``THEIL_SEN_CAP`` hash-min sample per user —
    split out (r14) so the auto-dial reuses the same arm
    byte-for-byte."""
    wk = Window.partitionBy("user_id").orderBy(
        salted_pri("tsen", F.col("event_id")), "event_id"
    )
    return (
        pts.withColumn("rn", F.row_number().over(wk))
        .where(F.col("rn") <= THEIL_SEN_CAP)
        .drop("rn")
    )


def trend_theil_sen_auto(events: DataFrame) -> DataFrame:
    """the SKEW auto-dial for Theil–Sen (r14, completing the
    auto-dial family on its skew axis): the exact arm is quadratic
    PER USER, so its distributed wall is the straggler task of the
    hottest user — C(max_n, 2) pairs in one partition regardless of
    cluster size. The statistic is exactly that: the max per-user
    point count, one cheap partial-agg over the already-filtered
    point set. Measured on synthesized hot users (SCALING.md r14,
    1000 baseline users at 67 points each): the exact arm rides flat
    through max_n = 3 000 (3.7 s) and hits the quadratic wall at
    10 000 (53 s, one ~50M-pair task) while the capped arm stays
    ~1 s throughout — the budget default
    ``THEIL_SEN_AUTO_MAX_POINTS_PER_USER`` = 5000 sits in that gap.
    Exact (every pair) below the budget; the deterministic
    ≤``THEIL_SEN_CAP`` hash-min sample above it. Integer statistic
    and one ``params`` budget ⇒ the oracle value-checks the dial
    decision along with the picked rows."""
    from rsbsa_etl_spark.params import THEIL_SEN_AUTO_MAX_POINTS_PER_USER

    # no persist: the point set is a narrow projection the explicit
    # arms also re-read per self-join alias — keeping the picked
    # arm's plan byte-identical to the explicit key matters more
    # than caching one cheap scan (the stat pass is one partial-agg
    # action over it)
    pts = _ts_points(events)
    max_n = (
        pts.groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .agg(F.coalesce(F.max("n"), F.lit(0)).alias("m"))
        .collect()[0]["m"]
    )
    if max_n <= THEIL_SEN_AUTO_MAX_POINTS_PER_USER:
        return _theil_sen(pts)
    return _theil_sen(_ts_points_capped(pts))


def _theil_sen(pts: DataFrame) -> DataFrame:
    a, b = pts.alias("a"), pts.alias("b")
    slopes = (
        a.join(b, "user_id")
        .where(
            (F.col("a.event_id") < F.col("b.event_id"))
            & (F.col("a.x_ms") != F.col("b.x_ms"))
        )
        .select(
            "user_id",
            F.floor(
                (F.col("b.y_q") - F.col("a.y_q")).cast("double")
                * F.lit(86400000.0)
                / (F.col("b.x_ms") - F.col("a.x_ms")).cast("double")
                * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("s6"),
        )
    )
    wm = Window.partitionBy("user_id").orderBy("s6")
    counted = slopes.withColumn("rn", F.row_number().over(wm)).withColumn(
        "n", F.count("*").over(Window.partitionBy("user_id"))
    )
    return (
        counted.where(F.col("rn") == F.ceil(F.col("n") / 2))
        .select(
            "user_id",
            F.col("n").cast("long").alias("n_pairs"),
            dec_round(F.col("s6").cast("double") / F.lit(1e6), 6).alias(
                "slope_cents_per_day"
            ),
        )
    )


def resample_interpolate(events: DataFrame) -> DataFrame:
    """linear interpolation across empty grid buckets — the
    two-sided companion to ``resample_ffill``: where ffill carries
    the LAST observation forward (a step function), this draws the
    line between the surrounding observations, the gap-fill a chart
    or a feature pipeline usually actually wants. Buckets before the
    first / after the last observation stay NULL (no extrapolation).

    Same distributed grid as ffill (sequence+explode per user, no
    driver loop, no global calendar cross join). The fill needs the
    PREVIOUS and NEXT observed (hour, value) around each gap: one
    ascending last(ignorenulls) window and one descending — two
    window passes over ONE user-partitioned sort order (Spark reuses
    the exchange; the second pass re-sorts within partitions only).
    Observations ride as structs so hour and value never come from
    different rows.

    Exactness: with prev (h0, v0) and next (h1, v1) in cents, the
    interpolated value is v0 + (v1−v0)·(h−h0)/(h1−h0): the products
    are exact longs, the division is one correctly-rounded double
    op, and the final add is a second single rounding — the same
    two-step in both engines, then 2 dp quantization.
    """
    base = events.where(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & F.col("value").isNotNull()
    )
    j = _hour_grid(base)
    obs = F.when(
        F.col("qs").isNotNull(),
        F.struct(F.col("hr").alias("oh"), F.col("qs").alias("ov")),
    )
    wb = (
        Window.partitionBy("user_id")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(F.col("hr").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    k = (
        j.withColumn("prev", F.last(obs, ignorenulls=True).over(wb))
        .withColumn("nxt", F.last(obs, ignorenulls=True).over(wf))
    )
    interp = F.when(
        F.col("qs").isNotNull(), F.col("qs").cast("double")
    ).otherwise(
        F.when(
            F.col("prev").isNotNull() & F.col("nxt").isNotNull(),
            F.col("prev.ov").cast("double")
            + (F.col("nxt.ov") - F.col("prev.ov")).cast("double")
            * (F.col("hr") - F.col("prev.oh")).cast("double")
            / (F.col("nxt.oh") - F.col("prev.oh")).cast("double"),
        )
    )
    return k.select(
        "user_id",
        "hr",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
        dec_round(interp / F.lit(100.0), 2).alias("interp_sum"),
    )


def group_percentiles(lineitem: DataFrame) -> DataFrame:
    """exact per-group quartiles (p25/p50/p75) of extended price by
    return flag — PERCENTILE_DISC semantics: the value returned is an
    actual element of the group (the one at rank ceil(q·n)), never an
    interpolation. Interpolating forms (percentile_cont,
    percentile_approx) are engine-divergent in their tie/lerp
    arithmetic; discrete selection is exact and portable by
    construction.

    Scale shape: the naive form — one rank window per group — is a
    trap with FEW LARGE groups (3 return flags over 100 TB = 3 giant
    single-task sorts). Instead: collapse to (group, distinct value)
    counts, run the blocked grouped ECDF (``blocked_running`` with
    ``group_cols`` — every window partitioned by (group, value
    block), the carry partitioned by group), and pick each quantile
    as the SMALLEST value whose cumulative count reaches ceil(q·n) —
    identical to the rank pick on the sorted multiset, without any
    group-sized sort anywhere. Prices compared in cents.
    """
    from rsbsa_etl_spark.operators.profiling import blocked_running

    q = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
    base = lineitem.where(
        F.col("l_extendedprice").isNotNull()
        & F.col("l_returnflag").isNotNull()
    ).select(F.col("l_returnflag").alias("flag"), q.alias("pq"))
    per_v = base.groupBy("flag", "pq").agg(F.count("*").alias("c"))
    cum = blocked_running(
        per_v, "pq", ["c"], "sum", True, group_cols=["flag"]
    )
    tot = per_v.groupBy("flag").agg(F.sum("c").alias("n"))
    j = cum.join(F.broadcast(tot), "flag")
    picks = []
    for name, num in (("p25", 1), ("p50", 2), ("p75", 3)):
        at = F.ceil(F.col("n") * num / 4)
        picks.append(
            F.min(F.when(F.col("c_cum") >= at, F.col("pq"))).alias(name)
        )
    out = j.groupBy("flag").agg(F.max("n").alias("n"), *picks)
    return out.select(
        "flag",
        F.col("n").cast("long").alias("n"),
        *[
            dec_round(F.col(c).cast("double") / 100, 2).alias(c)
            for c in ("p25", "p50", "p75")
        ],
    )


def winsorize_stats(events: DataFrame) -> DataFrame:
    """per-group winsorized mean of ``value`` — clip every
    observation into the group's [p05, p95] band before averaging,
    the standard robust-mean treatment for heavy-tailed metrics
    (outlier_zscore/outlier_mad FLAG extremes; this op bounds their
    influence instead). Output per event_type: n, the two clip
    bounds, the raw and winsorized means, and how many rows were
    clipped — the winsorized-vs-raw gap is itself the tail-mass
    diagnostic.

    Determinism discipline: bounds are PERCENTILE_DISC picks
    (actual elements, never interpolated) at ranks computed in
    INTEGER arithmetic — ``ceil(n·num/den)`` as ``(n·num + den−1)
    div den`` with the num/den constants shared with the oracle via
    params (a float ``q·n`` drifts at exact multiples:
    0.05·40000 = 2000.0000000000002 in doubles). Values are 1e-4
    fixed point; sums are exact longs; each mean is the one
    correctly-rounded double division at the end.

    Scale shape: same as ``group_percentiles`` — collapse to
    (group, distinct value) counts, blocked grouped ECDF
    (``blocked_running``, no group-sized sort anywhere), rank-pick
    the bounds, then ONE broadcast of the per-group bounds back onto
    the corpus scan for the clip+sum pass. Two corpus passes total,
    both map-side combining; no window over raw rows.
    """
    from rsbsa_etl_spark.operators.profiling import blocked_running
    from rsbsa_etl_spark.params import (
        WINSOR_DEN,
        WINSOR_HI_NUM,
        WINSOR_LO_NUM,
    )

    vi = F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long")
    base = events.where(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    ).select("event_type", vi.alias("vi"))
    per_v = base.groupBy("event_type", "vi").agg(F.count("*").alias("c"))
    cum = blocked_running(
        per_v, "vi", ["c"], "sum", True, group_cols=["event_type"]
    )
    tot = per_v.groupBy("event_type").agg(
        F.sum("c").cast("long").alias("n")
    )
    j = cum.join(F.broadcast(tot), "event_type")
    lo_rank = F.expr(
        f"(n * {WINSOR_LO_NUM} + {WINSOR_DEN - 1}) div {WINSOR_DEN}"
    )
    hi_rank = F.expr(
        f"(n * {WINSOR_HI_NUM} + {WINSOR_DEN - 1}) div {WINSOR_DEN}"
    )
    bounds = j.groupBy("event_type").agg(
        F.min(F.when(F.col("c_cum") >= lo_rank, F.col("vi"))).alias("lo"),
        F.min(F.when(F.col("c_cum") >= hi_rank, F.col("vi"))).alias("hi"),
    )
    b2 = base.join(F.broadcast(bounds), "event_type")
    clipped = F.greatest(F.least(F.col("vi"), F.col("hi")), F.col("lo"))
    out_of_band = (F.col("vi") < F.col("lo")) | (F.col("vi") > F.col("hi"))
    agg = b2.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.max("lo").alias("lo"),
        F.max("hi").alias("hi"),
        F.sum("vi").cast("long").alias("s_raw"),
        F.sum(clipped).cast("long").alias("s_win"),
        F.sum(out_of_band.cast("long")).cast("long").alias("n_clipped"),
    )
    return agg.select(
        "event_type",
        "n",
        dec_round(F.col("lo").cast("double") / 1e4, 4).alias("p_lo"),
        dec_round(F.col("hi").cast("double") / 1e4, 4).alias("p_hi"),
        dec_round(
            F.col("s_raw").cast("double") / F.col("n") / F.lit(1e4), 6
        ).alias("mean_raw"),
        dec_round(
            F.col("s_win").cast("double") / F.col("n") / F.lit(1e4), 6
        ).alias("mean_winsorized"),
        "n_clipped",
    )


def join_nearest(events: DataFrame) -> DataFrame:
    """nearest-event join: every click paired with the user's view
    CLOSEST in time, either direction — what "match the reading
    nearest the event" actually means when the as-of join's
    backward-only convention is wrong for the domain.

    Built from two as-of passes over the shared union-window kernel:
    the backward pass (latest view ≤ click) and the forward pass
    (earliest view ≥ click, via negated timestamps through the SAME
    asof_join — no second implementation), then one row-local pick of
    the closer side (ties break backward, the deterministic
    convention). Cost: two key-partitioned window sorts, no range
    join, no explosion.
    """
    from rsbsa_etl_spark.operators.joins import asof_join

    clicks = events.where(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    # tied (user_id, ts) views resolve inside the asof kernel to
    # the max payload struct (= max value at the tied instant) — the
    # same convention the oracle states as a max() pre-aggregation
    views = events.where(F.col("event_type") == "view").select(
        "user_id", "ts", "value"
    )
    back = asof_join(clicks, views, "user_id", "ts", ["ts", "value"]).select(
        "event_id",
        "user_id",
        "ts",
        F.col("ts_asof").alias("b_ts"),
        F.col("value_asof").alias("b_val"),
    )
    # forward pass = backward pass on the time-reversed axis: negate
    # microseconds on both sides and reuse the identical kernel
    neg = lambda df: df.withColumn("nts", -F.unix_micros("ts"))  # noqa: E731
    fwd = asof_join(
        neg(clicks).select("event_id", "user_id", "nts"),
        neg(views).select("user_id", "nts", "value"),
        "user_id",
        "nts",
        ["nts", "value"],
    ).select(
        "event_id",
        F.col("nts_asof").alias("f_nts"),
        F.col("value_asof").alias("f_val"),
    )
    j = back.join(fwd, "event_id")
    db = F.unix_micros("ts") - F.unix_micros("b_ts")  # ≥ 0 or NULL
    df_ = (-F.col("f_nts")) - F.unix_micros("ts")  # ≥ 0 or NULL
    take_back = F.col("b_ts").isNotNull() & (
        F.col("f_nts").isNull() | (db <= df_)
    )
    return j.select(
        "event_id",
        "user_id",
        F.when(take_back, F.unix_micros("b_ts"))
        .otherwise(-F.col("f_nts"))
        .alias("view_ts_us"),
        F.when(take_back, F.col("b_val"))
        .otherwise(F.col("f_val"))
        .alias("v_view"),
        F.when(take_back, db).otherwise(df_).alias("gap_us"),
    )


def window_zscore_rolling(events: DataFrame) -> DataFrame:
    """rolling standardization: each event's value as a z-score
    against the TRAILING ``n`` observations of the same user — the
    feature-engineering normalization that makes heterogeneous users
    comparable to one model, and the streaming-friendly cousin of the
    global zscore outlier pass (state = one window, not the corpus).

    The window length is ``params.ZSCORE_WINDOW`` — one constant
    feeding BOTH the operator and its oracle frame (a free parameter
    here with a hard-coded oracle frame was a silent-divergence
    trap).

    Exactness: rolling Σx accumulates the 1e-4 fixed-point integers
    and Σx² accumulates in DECIMAL(38,0) (vi² wraps int64 silently
    in Spark and raises in DuckDB once |value| passes ~3e5 — the
    ab_chisq overflow class, enforced not just documented), the
    scaled variance V = n·Σx² − (Σx)² stays integer in
    DECIMAL(38,0) (the squared sum amplifies past int64 on wide
    windows of large values), and z = (n·x − Σx) / sqrt(V) — the
    population z-score with every rational cleared — is one
    division + one sqrt, both correctly-rounded IEEE ops, identical
    in every engine. Windows shorter than 2 observations or with zero
    variance yield NULL. One user-partitioned sort serves both
    rolling sums.
    """
    from rsbsa_etl_spark.params import ZSCORE_WINDOW

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ZSCORE_WINDOW - 1), 0)
    )
    vi = F.floor(F.col("value") * 1e4 + F.lit(0.5)).cast("long")
    base = events.where(
        F.col("value").isNotNull()
        & F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
    ).select("event_id", "user_id", "ts", vi.alias("vi"))
    d38 = "decimal(38,0)"
    stats = base.select(
        "event_id",
        "user_id",
        "vi",
        F.count("*").over(w).alias("m"),
        F.sum("vi").over(w).alias("s"),
        F.sum(F.col("vi").cast(d38) * F.col("vi")).over(w).alias("ss"),
    )
    var_scaled = (
        F.col("m").cast(d38) * F.col("ss") - F.col("s").cast(d38) * F.col("s")
    )
    z = (
        (F.col("m").cast(d38) * F.col("vi") - F.col("s")).cast("double")
        / F.sqrt(var_scaled.cast("double"))
    )
    return stats.select(
        "event_id",
        "user_id",
        F.col("m").cast("long").alias("n_window"),
        dec_round(
            F.when((F.col("m") >= 2) & (var_scaled > 0), z), 6
        ).alias("z"),
    )
