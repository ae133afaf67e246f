"""Dataset profiling & statistical quality operators (extension
surface — the reference has no profiling beyond run counters,
``etlService.js:604-607``; a 100 TB curation pipeline needs
column-level visibility before any transform decision).

- column profiler: one-pass multi-aggregate → unpivoted stat rows
- per-group mode (deterministic tiebreak)
- z-score outlier detection per group
- Pearson correlation per group

Determinism contract (SURVEY §7.3.7): every statistic is built from
exact integer/decimal accumulations (order-independent), and the
final scalar math is pure IEEE-754 double ops (multiply / divide /
sqrt are correctly rounded in every engine) applied in the *same
expression shape* as the DuckDB oracle — so results are
bit-identical, not approximately equal.

Scale notes: the profiler and the moment sums are single-pass
partial aggregates — the shuffle carries one partial row per
(group, partition), never raw data. Mode is a two-level aggregate
(count per (group, value) then argmax per group) — both stages
combine map-side. Nothing here collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from rsbsa_etl_spark.functions.numeric import dec_round, hex_bigint, salted_pri


def _fixed(col: Column, scale: int) -> Column:
    """quantize a double to a long at ``scale`` decimals (round-
    half-up) — the exact-accumulation building block."""
    return F.floor(col * F.lit(float(10**scale)) + F.lit(0.5)).cast("long")


def profile_columns(lineitem: DataFrame) -> DataFrame:
    """column profiler over the four lineitem measures: row count,
    non-null count, distinct count, min, max, fixed-point sum — one
    row per column (long format, the shape a quality dashboard
    ingests).

    Shape: one narrow two-level aggregation per column, unioned.
    Each branch scans a SINGLE parquet column chunk, collapses to
    distinct values map-side (the shuffle carries |distinct| partial
    rows, with count and quantized-sum moments riding along), then a
    second aggregate folds the distinct set to one stats row. This
    beats the single-pass multi-countDistinct form 3.7× measured at
    sf0.1: that plan Expands every row ×(columns+1) and shuffles the
    multiplied stream; this one shuffles only per-column value sets.
    Same total I/O either way (columnar scans read exactly the
    profiled columns), strictly less exchange.
    """
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    parts = []
    for c in cols:
        grouped = (
            lineitem.select(c)
            .groupBy(c)
            .agg(
                F.count("*").alias("cnt"),
                F.sum(_fixed(F.col(c), 2)).alias("qsum"),
            )
        )
        parts.append(
            grouped.agg(
                F.sum("cnt").alias("n_rows"),
                F.sum(F.when(F.col(c).isNotNull(), F.col("cnt"))).alias(
                    "n_nonnull"
                ),
                F.count(c).alias("n_distinct"),
                dec_round(F.min(c), 4).alias("min_v"),
                dec_round(F.max(c), 4).alias("max_v"),
                (F.sum("qsum").cast("double") / F.lit(100.0)).alias("sum_v"),
            ).select(
                F.lit(c).alias("column_name"),
                "n_rows",
                "n_nonnull",
                "n_distinct",
                "min_v",
                "max_v",
                "sum_v",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def group_mode(events: DataFrame) -> DataFrame:
    """modal event_type per user with deterministic tiebreak
    (count desc, value asc) — the categorical summary statistic SQL
    lacks a portable MODE() for.

    Two-level aggregate: count per (user, type) combines map-side so
    the shuffle carries ≤ |users|×|types| partials; the argmax is a
    row_number over the tiny per-user slice. No raw-row shuffle.
    """
    counted = events.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n")
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("n").desc(), F.col("event_type").asc()
    )
    return (
        counted.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("user_id", F.col("event_type").alias("modal_type"), "n")
    )


def zscore_outliers(events: DataFrame, threshold: float = 2.0) -> DataFrame:
    """events whose value deviates ≥ ``threshold`` standard
    deviations from their event_type's mean — the basic distribution-
    shift / anomaly gate of a data-quality pipeline.

    Moments are exact: values quantized to 1e-4 longs, summed as
    longs (order-independent; |v|≤561 → v²·n ≤ 3.2e18 < 2^63 at
    sf0.1 — at true 100 TB accumulate DECIMAL(38,0) instead), then
    mean/variance/z computed in doubles with the identical expression
    shape as the oracle. One aggregate pass + one broadcast join of
    the per-type moment row back onto the stream.
    """
    q = 1e4
    vi = _fixed(F.col("value"), 4)
    stats = events.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(vi).alias("sx"),
        F.sum(vi * vi).alias("sxx"),
    )
    mu = F.col("sx").cast("double") / F.col("n") / F.lit(q)
    ex2 = F.col("sxx").cast("double") / F.col("n") / F.lit(q) / F.lit(q)
    # guard the VARIANCE, not sd: float cancellation can make
    # ex2 − mu² a tiny NEGATIVE for a constant column, and
    # sqrt(negative) is NaN — which Spark's `!= 0` and `>=` treat as
    # TRUE (NaN sorts greatest), silently emitting every row. A
    # finite var ≤ 0 → sd NULL → z NULL → filtered, and the oracle
    # carries the same CASE so DuckDB never takes sqrt(negative).
    var = ex2 - mu * mu
    sd = F.sqrt(F.when(var > 0, var))
    z = (F.col("value") - mu) / sd
    return (
        events.join(F.broadcast(stats), "event_type")
        .where((z >= F.lit(threshold)) | (z <= -F.lit(threshold)))
        .select(
            "event_id",
            "event_type",
            dec_round(F.col("value"), 4).alias("value_r"),
            dec_round(z, 6).alias("zscore"),
        )
    )


def corr_groups(lineitem: DataFrame) -> DataFrame:
    """Pearson correlation of (l_quantity, l_extendedprice) per
    return flag — built from exact integer co-moment sums, with the
    final r computed in doubles (sqrt and the four arithmetic ops are
    correctly-rounded IEEE, so Spark and the oracle agree bitwise).

    Single partial-aggregated pass; the five co-moments per group are
    the only shuffled state. Quantity/price quantized at scale 0 —
    corr is scale-invariant and the coarser grid keeps every
    accumulator (Σxy ≤ 5e3·1e5·2e5 ≈ 1e14) far inside long range
    even at a 100× group size.
    """
    xi = _fixed(F.col("l_quantity"), 0)
    yi = _fixed(F.col("l_extendedprice"), 0)
    m = lineitem.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(xi).alias("sx"),
        F.sum(yi).alias("sy"),
        F.sum(xi * xi).alias("sxx"),
        F.sum(yi * yi).alias("syy"),
        F.sum(xi * yi).alias("sxy"),
    )
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    num = n * F.col("sxy").cast("double") - sx * sy
    # each co-moment guarded BEFORE its sqrt: a constant (or, at
    # huge magnitudes, near-constant) column can make n·sxx − sx²
    # round to ≤ 0, and sqrt(negative) is NaN — which `!= 0` treats
    # as true. A non-positive variance leg → den NULL → r NULL (the
    # oracle mirrors the CASE, so DuckDB never errors on the sqrt)
    vx = n * F.col("sxx").cast("double") - sx * sx
    vy = n * F.col("syy").cast("double") - sy * sy
    den = F.sqrt(F.when(vx > 0, vx)) * F.sqrt(F.when(vy > 0, vy))
    return m.select(
        "l_returnflag",
        "n",
        dec_round(num / den, 6).alias("corr_qty_price"),
    ).orderBy("l_returnflag")


def _arm() -> Column:
    """deterministic two-arm hash split on user_id (salt 'ab1') —
    ONE definition shared by ab_ttest and ab_cuped, whose contract
    is that both readouts see the same assignment."""
    return salted_pri("ab1", F.col("user_id")) % 2


def ab_ttest(events: DataFrame) -> DataFrame:
    """experiment readout: hash-split users into two arms (the same
    deterministic assignment trick as ``split_assign``), then Welch's
    t-statistic on value from exact integer moments — experiment
    analysis as one aggregation pass, no per-arm subqueries.

    Everything after the moment sums is IEEE double arithmetic
    (divisions, one sqrt) in the same expression shape as the oracle,
    so the t-stat is bit-deterministic. One partial-aggregated pass;
    the single result row is driver-sized. At 100 TB: identical plan,
    the moments shuffle is one row per partition.
    """
    q = 1e4
    arm = _arm()
    vi = _fixed(F.col("value"), 4)
    one = events.select(arm.alias("arm"), vi.alias("vi")).agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("vi"))).alias("sx_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("vi"))).alias("sx_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("vi") * F.col("vi"))).alias("sxx_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("vi") * F.col("vi"))).alias("sxx_b"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    # degenerate arms (empty, or size 1, or zero pooled variance)
    # yield NULL statistics — matching the oracle's NULL-on-/0 —
    # instead of an ANSI DIVIDE_BY_ZERO crash
    mu_a = F.when(na != 0, F.col("sx_a").cast("double") / na / F.lit(q))
    mu_b = F.when(nb != 0, F.col("sx_b").cast("double") / nb / F.lit(q))
    # sample variance with n-1 denominator, from exact sums
    va = F.when(
        na > 1,
        (F.col("sxx_a").cast("double") / F.lit(q) / F.lit(q) - na * mu_a * mu_a)
        / (na - F.lit(1.0)),
    )
    vb = F.when(
        nb > 1,
        (F.col("sxx_b").cast("double") / F.lit(q) / F.lit(q) - nb * mu_b * mu_b)
        / (nb - F.lit(1.0)),
    )
    # guard the pooled variance BEFORE the sqrt: cancellation can
    # round a constant arm's variance to a tiny negative, and
    # sqrt(negative) is NaN — which `!= 0` would wave through. A
    # finite se² ≤ 0 (or a degenerate arm) → se NULL → t NULL.
    se2 = va / na + vb / nb
    se = F.sqrt(F.when((na > 1) & (nb > 1) & (se2 > 0), se2))
    t = (mu_a - mu_b) / se
    return one.select(
        "n_a",
        "n_b",
        dec_round(mu_a, 6).alias("mean_a"),
        dec_round(mu_b, 6).alias("mean_b"),
        dec_round(t, 6).alias("t_stat"),
    )


def skew_stats(lineitem: DataFrame, key: str = "l_orderkey", topn: int = 5) -> DataFrame:
    """join-key skew diagnostic: frequency distribution of a join
    key — max/percentile group sizes and the heavy-hitter share —
    the measurement that decides between a plain shuffle join, AQE
    skew-split, and explicit salting. A 100 TB join planned blind on
    a skewed key is the classic cluster-killer; this is the
    one-pass check that prevents it.

    Two-level aggregate: per-key counts (map-side combined), then
    fixed statistics over the |keys|-sized count column. Exact
    interpolated percentiles over group sizes; the heavy-hitter
    share is the top-N frequency mass over total rows.
    """
    counts = lineitem.groupBy(key).agg(F.count("*").alias("cnt"))
    top_share = (
        counts.orderBy(F.col("cnt").desc(), F.col(key).asc())
        .limit(topn)
        .agg(F.sum("cnt").alias("top_mass"))
    )
    stats = counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_group"),
        dec_round(F.percentile("cnt", F.lit(0.5)), 6).alias("p50_group"),
        dec_round(F.percentile("cnt", F.lit(0.99)), 6).alias("p99_group"),
    )
    return stats.join(F.broadcast(top_share)).select(
        "n_keys",
        "n_rows",
        "max_group",
        "p50_group",
        "p99_group",
        dec_round(
            F.col("top_mass").cast("double") / F.col("n_rows"), 6
        ).alias(f"top{topn}_share"),
    )


def bootstrap_ci(events: DataFrame) -> DataFrame:
    """Poisson bootstrap confidence interval for the mean of
    ``value`` — the distributed bootstrap (Chamandy et al., Google):
    instead of resampling rows (impossible to coordinate across a
    cluster), every row gets an independent pseudo-Poisson(1) weight
    per replicate, and each replicate's weighted mean is one
    bootstrap draw. One pass, map-side only, no row movement: the
    canonical way to put error bars on a 100 TB aggregate.

    Determinism: the replicate weight is an inverse-CDF lookup of a
    salted md5 u32 draw against PRE-COMPUTED integer thresholds
    (``POISSON1_CDF_U32`` — neither engine evaluates exp()), so
    every weight, every replicate mean, and hence the interval is
    a pure function of (event_id, replicate) — identical in Spark,
    DuckDB, and any rerun. Replicate means are quantized (1e-6)
    before ranking; ties break on replicate index.

    Output (one row): n_rows, n_replicates, point_mean, and the
    rank-2 / rank-(B−1) replicate means as ``boot_lo``/``boot_hi``
    (for B = 32 a ~94% interval — the rank choice is part of the
    contract, not an estimate).

    Scale: the explode is a B× narrow map (no shuffle); the
    aggregate carries B partial rows per partition; the final rank
    runs over B rows. State is constant-size regardless of input.
    Long accumulation overflows past ~10^12 rows at this value
    scale — swap the sums to DECIMAL(38,0) there (numeric.py's
    documented move).
    """
    from rsbsa_etl_spark.params import (
        BOOTSTRAP_B,
        BOOTSTRAP_SALT,
        POISSON1_CDF_U32,
    )

    B = int(BOOTSTRAP_B)
    vi = _fixed(F.col("value"), 4)
    # NULL value rows are excluded outright (the ab_kstest /
    # quantile_sketch convention): a NULL contributes no mass to the
    # mean, so letting it add Poisson weight to n_w would bias every
    # replicate toward 0.
    rows = events.where(F.col("value").isNotNull()).select(
        "event_id",
        vi.alias("vi"),
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("rep"),
    )
    u32 = hex_bigint(
        F.md5(
            F.concat_ws(
                "|",
                F.lit(BOOTSTRAP_SALT),
                F.col("rep").cast("string"),
                F.col("event_id").cast("string"),
            )
        )
    )
    # project the draw ONCE so the 7-branch CASE chain references a
    # column, not 7 copies of the md5 subtree (the oracle's d-CTE
    # shape; bounds the hash to one evaluation per exploded row)
    drawn = rows.select("rep", "vi", u32.alias("u32"))
    w = F.lit(len(POISSON1_CDF_U32)).cast("long")
    for k in reversed(range(len(POISSON1_CDF_U32))):
        w = F.when(
            F.col("u32") < F.lit(POISSON1_CDF_U32[k]), F.lit(k).cast("long")
        ).otherwise(w)
    per_rep = (
        drawn.select("rep", "vi", w.alias("w"))
        .groupBy("rep")
        .agg(
            F.sum("w").alias("n_w"),
            F.sum(F.col("w") * F.col("vi")).alias("s"),
            F.count("*").cast("long").alias("n"),
            F.sum("vi").alias("tot"),
        )
        .select(
            "rep",
            "n",
            "tot",
            dec_round(
                F.when(
                    F.col("n_w") != 0,
                    F.col("s").cast("double") / F.col("n_w") / F.lit(1e4),
                ),
                6,
            ).alias("mean_rep"),
        )
    )
    rk = Window.orderBy(F.col("mean_rep").asc_nulls_last(), F.col("rep").asc())
    ranked = per_rep.withColumn("rk", F.row_number().over(rk))
    return ranked.agg(
        F.max("n").alias("n_rows"),
        F.lit(B).cast("long").alias("n_replicates"),
        dec_round(
            F.max("tot").cast("double") / F.max("n") / F.lit(1e4), 6
        ).alias("point_mean"),
        F.max(F.when(F.col("rk") == 2, F.col("mean_rep"))).alias("boot_lo"),
        F.max(F.when(F.col("rk") == B - 1, F.col("mean_rep"))).alias(
            "boot_hi"
        ),
    )


def ab_cuped(events: DataFrame) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng, Xu, Kohavi &
    Walker 2013): adjust each user's post-period metric by their
    PRE-period behavior — ``Y' = Y − θ(X − X̄)``, θ = cov(X,Y)/var(X)
    — the standard industry move that shrinks experiment confidence
    intervals without touching the treatment effect (pre-period
    covariates are independent of assignment). Companion to
    ``ab_ttest``: same hash-split arms, same exact-moment
    discipline.

    The covariate is the user's pre-split mean value, the metric
    their post-split mean (split at ``STREAM_SPLIT_TS``; users
    need ≥1 event in BOTH periods — the standard CUPED cohort).
    Per-user means are quantized to 1e-4 fixed point before the
    moment sums, so every aggregate is an exact long and θ, the
    raw and adjusted differences are fixed-expression IEEE doubles
    — bit-identical in the oracle. Arm-level algebra (adjusted
    diff = raw diff − θ·(X̄_a − X̄_b)) avoids any per-user second
    pass. Degenerate inputs (an empty arm, zero covariate
    variance) yield NULLs, never a divide-by-zero.

    Plan: one scan → ONE per-user conditional aggregate (the only
    corpus-sized shuffle) → one global moment fold → 1 row. At
    100 TB the per-user agg partial-aggregates map-side and the
    moment row is constant-size.
    """
    from rsbsa_etl_spark.params import STREAM_SPLIT_TS

    q = 1e4
    arm = _arm()
    is_pre = F.col("ts") <= F.lit(STREAM_SPLIT_TS).cast("timestamp")
    vi = _fixed(F.col("value"), 4)
    per_user = (
        events.select(
            F.col("user_id"), arm.alias("arm"), is_pre.alias("pre"), vi.alias("vi")
        )
        .groupBy("user_id", "arm")
        .agg(
            F.count(F.when(F.col("pre"), 1)).alias("n_pre"),
            F.sum(F.when(F.col("pre"), F.col("vi"))).alias("s_pre"),
            F.count(F.when(~F.col("pre"), 1)).alias("n_post"),
            F.sum(F.when(~F.col("pre"), F.col("vi"))).alias("s_post"),
        )
        .where((F.col("n_pre") > 0) & (F.col("n_post") > 0))
        .select(
            "arm",
            _fixed(
                F.col("s_pre").cast("double") / F.col("n_pre") / F.lit(q), 4
            ).alias("qx"),
            _fixed(
                F.col("s_post").cast("double") / F.col("n_post") / F.lit(q), 4
            ).alias("qy"),
        )
    )
    m = per_user.agg(
        F.count(F.when(F.col("arm") == 0, 1)).alias("n_a"),
        F.count(F.when(F.col("arm") == 1, 1)).alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("qx"))).alias("sx_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("qx"))).alias("sx_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("qy"))).alias("sy_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("qy"))).alias("sy_b"),
        F.sum("qx").alias("sx"),
        F.sum("qy").alias("sy"),
        F.sum(F.col("qx") * F.col("qx")).alias("sxx"),
        F.sum(F.col("qx") * F.col("qy")).alias("sxy"),
        F.count("*").alias("n"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    n = F.col("n").cast("double")
    # θ from exact sums; var(X) ≤ 0 (constant covariate) → NULL
    varx = F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / n
    covxy = F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / n
    theta = F.when(varx > 0, covxy / varx)
    mxa = F.when(na != 0, F.col("sx_a").cast("double") / na / F.lit(q))
    mxb = F.when(nb != 0, F.col("sx_b").cast("double") / nb / F.lit(q))
    mya = F.when(na != 0, F.col("sy_a").cast("double") / na / F.lit(q))
    myb = F.when(nb != 0, F.col("sy_b").cast("double") / nb / F.lit(q))
    diff_raw = mya - myb
    diff_adj = diff_raw - theta * (mxa - mxb)
    return m.select(
        "n_a",
        "n_b",
        dec_round(mya, 6).alias("mean_post_a"),
        dec_round(myb, 6).alias("mean_post_b"),
        dec_round(diff_raw, 6).alias("diff_raw"),
        dec_round(theta, 6).alias("theta"),
        dec_round(diff_adj, 6).alias("diff_adj"),
    )


def benford_digits(events: DataFrame) -> DataFrame:
    """Benford's-law first-significant-digit audit over ``value`` —
    the classic fabricated-data / aggregation-error detector: in
    naturally occurring multi-scale data the leading digit d
    appears with probability log10(1 + 1/d); a synthetic or
    clipped distribution deviates visibly. Emits one row per digit
    with observed count, observed and expected frequency, and the
    digit's chi-square contribution ``(obs − n·p)² / (n·p)`` — the
    per-digit decomposition an auditor actually reads.

    The expected frequencies are PRE-COMPUTED double literals
    (``BENFORD_P``, the Poisson-threshold discipline — no log10 in
    either engine); the first significant digit is read off the
    1e-4 FIXED-POINT integer (first char of the BIGINT's decimal
    string — integer-to-string is exact and identical in both
    engines, unlike printf float rendering, whose rounding mode
    differs between Java and C at half-way decimals). The audit is
    therefore DEFINED on the 1e-4 ledger grid of |value| — the
    natural frame for the monetary/accounting data Benford is
    classically applied to: signs carry no leading-digit
    information (|value| contributes), values under half a grid
    step quantize to zero and drop out, and a value within half a
    step of a decade boundary reads as the rounded decade (any
    fixed-precision audit shares these edges; they are part of the
    stated contract, not an accident of rendering). One partial-agg
    shuffle over 9 digit groups; the expected table is a 9-row
    literal join.
    """
    from rsbsa_etl_spark.params import BENFORD_P

    spark = events.sparkSession
    vi = _fixed(F.abs(F.col("value")), 4)
    digits = (
        events.select(vi.alias("vi"))
        .where(F.col("vi") > 0)
        .select(
            F.substring(F.col("vi").cast("string"), 1, 1)
            .cast("int")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count("*").cast("long").alias("n_obs"))
    )
    exp = spark.createDataFrame(
        [(d + 1, p) for d, p in enumerate(BENFORD_P)],
        "digit int, p double",
    )
    n_tot = digits.agg(F.sum("n_obs").alias("n_tot"))
    j = exp.join(digits, "digit", "left").join(F.broadcast(n_tot))
    obs = F.coalesce(F.col("n_obs"), F.lit(0)).cast("long")
    expected = F.col("n_tot").cast("double") * F.col("p")
    chi = (obs.cast("double") - expected) * (
        obs.cast("double") - expected
    ) / expected
    return j.select(
        "digit",
        obs.alias("n_obs"),
        dec_round(obs.cast("double") / F.col("n_tot"), 6).alias("obs_freq"),
        dec_round(F.col("p"), 6).alias("exp_freq"),
        dec_round(chi, 6).alias("chi2_part"),
    )


#: block width (log2) for the blocked ECDF cumulative sum: 2^16
#: fixed-point units per block. Chosen so the residual GLOBAL pass
#: runs over block totals — |domain| / 2^16 rows — instead of every
#: distinct value: a [-10^6, 10^6] metric at 1e-4 fixed point is
#: 2·10^10 distinct values but only ~305k block rows, and the
#: per-block windows parallelize across the cluster.
ECDF_BLOCK_BITS = 16


def blocked_running(
    per_v: DataFrame,
    order_col: str,
    cols: list[str],
    agg: str = "sum",
    inclusive: bool = True,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """exact running (inclusive) sums over a totally-ordered column
    — the range-partitioned cumulative sum with carry, the shared
    ECDF kernel behind ``ab_kstest`` and ``value_ecdf``.

    A plain ``Window.orderBy(v)`` cumulative sum is a SINGLE
    PARTITION sort — the one plan shape that cannot scale past one
    executor. This kernel decomposes it exactly:

    1. block id = arithmetic-shift-right(v, 16) — order-preserving
       for negative values too (two's-complement floor division);
    2. within-block running sums under ``Window.partitionBy(blk)``
       — embarrassingly parallel, ≤2^16 distinct values per block;
    3. carry = exclusive running sum over BLOCK TOTALS (one row per
       non-empty block — the only residual global window, bounded
       by domain/2^16, not by |V| and never by row count);
    4. inclusive_cum = within_block + carry, via a broadcast join
       on the tiny block-totals table.

    Integer-exact: every partial is a sum of longs, so the
    decomposition is bit-identical to the single-window form — the
    DuckDB oracles keep their plain ``ORDER BY v ROWS UNBOUNDED
    PRECEDING`` formulation and still hash-match.

    Returns ``per_v`` columns plus ``<c>_cum`` (sum) / ``<c>_run``
    (max) for each entry of ``cols``.
    """
    agg_fn = {"sum": F.sum, "max": F.max}[agg]
    gc = list(group_cols or [])

    def combine(a: Column, b: Column) -> Column:
        if agg == "sum":
            return F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0))
        return F.greatest(a, b)  # greatest skips NULL operands

    end = 0 if inclusive else -1
    v = F.col(order_col)
    b = per_v.withColumn("_blk", F.shiftright(v, ECDF_BLOCK_BITS))
    win = (
        Window.partitionBy(*gc, "_blk")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, end)
    )
    within = b.select(
        "*", *[agg_fn(c).over(win).alias(f"_w_{c}") for c in cols]
    )
    totals = b.groupBy(*gc, "_blk").agg(
        *[agg_fn(c).alias(f"_t_{c}") for c in cols]
    )
    # the one residual near-global window — over block totals only
    # (see step 3 above), always EXCLUSIVE: the carry is what
    # strictly precedes the block. With group_cols it is PARTITIONED
    # by group and fully parallel; without, it is the documented
    # bounded global pass.
    # empty partitionBy(*[]) IS the global window, so one spec
    # serves both the grouped (partition-parallel) and ungrouped
    # (documented bounded global) carry
    carry_w = Window.partitionBy(*gc).orderBy("_blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    carry = totals.select(
        *gc,
        "_blk",
        *[
            F.sum(f"_t_{c}").over(carry_w).alias(f"_p_{c}")
            if agg == "sum"
            else F.max(f"_t_{c}").over(carry_w).alias(f"_p_{c}")
            for c in cols
        ],
    )
    out_suffix = "_cum" if agg == "sum" else "_run"
    # NULL-SAFE equi-join on the group keys: a plain join would drop
    # NULL-group rows that Window.partitionBy keeps as their own
    # partition — the grouped form must stay bit-identical to the
    # plain grouped window for NULLable keys too
    carry_r = carry.select(
        *[F.col(c).alias(f"_cg_{c}") for c in gc],
        F.col("_blk").alias("_cblk"),
        *[F.col(f"_p_{c}") for c in cols],
    )
    cond = F.col("_blk") == F.col("_cblk")
    for c in gc:
        cond = cond & F.col(c).eqNullSafe(F.col(f"_cg_{c}"))
    return (
        within.join(F.broadcast(carry_r), cond)
        .select(
            *per_v.columns,
            *[
                combine(F.col(f"_w_{c}"), F.col(f"_p_{c}")).alias(
                    f"{c}{out_suffix}"
                )
                for c in cols
            ],
        )
    )


def blocked_cumsum(
    per_v: DataFrame, order_col: str, sum_cols: list[str]
) -> DataFrame:
    """inclusive running sums — the original ECDF form; see
    ``blocked_running`` for the generalized kernel (sum/max,
    inclusive/exclusive) that ``skyline_pareto`` reuses."""
    return blocked_running(per_v, order_col, sum_cols, "sum", True)


def value_ecdf(events: DataFrame) -> DataFrame:
    """empirical CDF of ``value`` evaluated at every distinct value
    — the second consumer of the shared ``blocked_cumsum`` ECDF
    kernel (one kernel, two keys: this and ``ab_kstest``), and the
    profiling primitive behind quantile reads, drift checks, and
    threshold picking.

    Output: one row per distinct value — ``value`` (4 dp), ``n_le``
    (exact count of rows with value ≤ v, right-continuous ECDF
    convention), ``cdf`` = n_le/n rounded to 6 dp through the one
    shared correctly-rounded double division. NULL values have no
    ECDF position and are excluded in both engines.

    Plan: one partial-agg shuffle to distinct values, then the
    blocked cumulative sum — per-block windows parallelize, the
    residual global pass is over block totals (domain/2^16 rows).
    No global sort, no single-partition |V| window.
    """
    q = 1e4
    vi = _fixed(F.col("value"), 4)
    per_v = (
        events.where(F.col("value").isNotNull())
        .select(vi.alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("c"))
    )
    tot = per_v.agg(F.sum("c").cast("long").alias("n"))
    cum = blocked_cumsum(per_v, "v", ["c"])
    return cum.join(F.broadcast(tot)).select(
        dec_round(F.col("v").cast("double") / F.lit(q), 4).alias("value"),
        F.col("c_cum").cast("long").alias("n_le"),
        dec_round(
            F.col("c_cum").cast("double") / F.col("n"), 6
        ).alias("cdf"),
    )


def ab_kstest(events: DataFrame) -> DataFrame:
    """two-sample Kolmogorov–Smirnov distance between the arms'
    value distributions — the nonparametric companion to the Welch
    t-test: sensitive to ANY distributional difference (shape,
    variance, tails), not just the mean. Completes the experiment
    readout family (ab_ttest, ab_cuped, bootstrap_ci).

    Exact rational arithmetic: at each distinct value v the ECDF
    gap is |#a≤v / n_a − #b≤v / n_b| = |#a≤v·n_b − #b≤v·n_a| /
    (n_a·n_b) — the numerator is computed as DECIMAL(38,0) products
    of exact counts (BIGINT would overflow past ~3e9×3e9 samples;
    the oracle mirrors with HUGEINT), maximized exactly, and
    descaled once through a correctly-rounded double division. The
    statistic's location is reported too (smallest v attaining the
    max — a total order). Ties are handled by evaluating the ECDFs
    at distinct values only, the right-continuous convention.

    NULL values carry no ECDF position and are filtered in both
    engines (their window null-orderings differ — the parity
    hazard); a degenerate slice with an empty arm yields NULL
    statistics (the ab_ttest convention), never a divide-by-zero.

    Plan: one pass to (value, arm) counts (map-side partials) —
    reused by the arm-total fold and by the blocked ECDF cumulative
    sum (``blocked_cumsum``: per-block windows parallelize, the
    residual global pass sees block totals only — domain/2^16 rows,
    never |V| and never row count) — then the argmax is a plain
    ``max(struct(num, -v))`` aggregate, no global sort anywhere.
    """
    q = 1e4
    vi = _fixed(F.col("value"), 4)
    arm = _arm()
    per_v = (
        events.where(F.col("value").isNotNull())
        .select(vi.alias("v"), arm.alias("arm"))
        .groupBy("v")
        .agg(
            F.count(F.when(F.col("arm") == 0, 1)).alias("ca"),
            F.count(F.when(F.col("arm") == 1, 1)).alias("cb"),
        )
    )
    # arm totals from plain sums — a max over the running window
    # would re-run the single-partition sort a second time
    tot = per_v.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
    )
    cum = blocked_cumsum(per_v, "v", ["ca", "cb"]).select(
        "v",
        F.col("ca_cum").alias("na_le"),
        F.col("cb_cum").alias("nb_le"),
    )
    d = cum.join(F.broadcast(tot)).select(
        "v",
        "n_a",
        "n_b",
        F.abs(
            F.col("na_le").cast("decimal(38,0)") * F.col("n_b")
            - F.col("nb_le").cast("decimal(38,0)") * F.col("n_a")
        ).alias("num"),
    )
    # argmax with min-v tiebreak as a commutative aggregate: max on
    # (num asc, -v asc) picks the largest num, then the SMALLEST v.
    # The isNotNull guard keeps the empty-input contract (0 rows,
    # matching the oracle's rank-filter form) — an agg over nothing
    # would otherwise emit one all-NULL row.
    both = (F.col("n_a") > 0) & (F.col("n_b") > 0)
    return (
        d.agg(
            F.max(
                F.struct(
                    F.col("num").alias("num"), (-F.col("v")).alias("nv")
                )
            ).alias("m"),
            F.max("n_a").alias("n_a"),
            F.max("n_b").alias("n_b"),
        )
        .where(F.col("m").isNotNull())
        .select(
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            dec_round(
                F.when(
                    both,
                    F.col("m.num").cast("double")
                    / F.col("n_a")
                    / F.col("n_b"),
                ),
                6,
            ).alias("ks_d"),
            dec_round(
                F.when(both, -F.col("m.nv").cast("double") / F.lit(q)),
                4,
            ).alias("at_value"),
        )
    )


def ab_chisq(events: DataFrame) -> DataFrame:
    """chi-square test of independence between arm assignment and
    event_type — the categorical-outcome companion that completes the
    experiment readout family (ab_ttest means, ab_cuped variance
    reduction, ab_kstest distributions, bootstrap_ci error bars):
    "did the treatment change WHAT users do, not just how much".

    Exact-wide-integer construction: observed cell counts O, row
    totals r_a, column totals c_t and n are integers, and the
    products O·n, r·c, r·c·n are carried in DECIMAL(38,0) (DuckDB
    mirrors with HUGEINT) — int64 wraps silently in Spark and RAISES
    in DuckDB once |O·n − r·c| passes ~3e9, so the wide type is a
    cross-engine parity requirement, not just headroom (the
    ab_kstest convention). The term (O·n − r·c)² / (r·c·n) is then
    two double ops on correctly-rounded conversions of the same
    exact integers — bit-identical in both engines — quantized to
    1e-9 fixed point in DECIMAL(38,0), and SUMMED as decimals:
    float-addition order, the cross-engine killer in a naive
    Σ(O−E)²/E, never occurs. NULL user_id / event_type rows carry
    no cell and are filtered in both engines.

    Output (one row): n, dof = (arms−1)(types−1), chi2 (6 dp).
    Plan: one partial-agg shuffle to the arms × types cell table;
    everything after folds over ≤ dozens of rows.
    """
    cells = (
        events.where(
            F.col("user_id").isNotNull() & F.col("event_type").isNotNull()
        )
        .select(_arm().alias("arm"), "event_type")
        .groupBy("arm", "event_type")
        .agg(F.count("*").alias("o"))
    )
    rows_t = cells.groupBy("arm").agg(F.sum("o").alias("r"))
    cols_t = cells.groupBy("event_type").agg(F.sum("o").alias("c"))
    tot = cells.agg(
        F.sum("o").alias("n"),
        F.countDistinct("arm").alias("n_arms"),
        F.countDistinct("event_type").alias("n_types"),
    )
    d38 = "decimal(38,0)"
    diff = F.col("o").cast(d38) * F.col("n") - F.col("r").cast(d38) * F.col(
        "c"
    )
    den = (F.col("r").cast(d38) * F.col("c") * F.col("n")).cast("double")
    term = diff.cast("double") * diff.cast("double") / den
    per_cell = (
        cells.join(F.broadcast(rows_t), "arm")
        .join(F.broadcast(cols_t), "event_type")
        .join(F.broadcast(tot))
        .select(
            "n",
            "n_arms",
            "n_types",
            F.floor(term * F.lit(1e9) + F.lit(0.5)).cast(d38).alias("t9"),
        )
    )
    return per_cell.groupBy("n", "n_arms", "n_types").agg(
        F.sum("t9").alias("chi9")
    ).select(
        F.col("n").cast("long").alias("n"),
        ((F.col("n_arms") - 1) * (F.col("n_types") - 1))
        .cast("long")
        .alias("dof"),
        dec_round(F.col("chi9").cast("double") / F.lit(1e9), 6).alias(
            "chi2"
        ),
    )
