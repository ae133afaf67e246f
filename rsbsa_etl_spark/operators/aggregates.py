"""Aggregations (SURVEY §2.4).

- A1 filtered COUNT(*)      — ``models/EtlLogger.js:19-27``
- A2 group-by collect       — ``services/etlService.js:611-625``
- A3 DISTINCT keys          — ``etlService.js:99``
- A5 running totals         — ``etlService.js:604-607,723-725``

All are hash aggregates with map-side partial aggregation (Spark
does partial-combine before the shuffle automatically — the
"processedCount += …" folds of the reference become one
``groupBy().agg()`` whose shuffle moves only partial states, not
rows).

Money-valued sums are quantized to scaled integers and summed as
longs (exact, associative — see ``functions/numeric.py``);
double-sum order-nondeterminism is the classic oracle hash-match
killer (SURVEY §7.3.7).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from rsbsa_etl_spark.functions.numeric import fixed_sum


def decimal_sum(col, scale: int = 2, alias: str | None = None) -> Column:
    """Order-independent fixed-precision sum (see
    ``functions/numeric.py`` for the portable construction and why a
    DECIMAL cast is not it)."""
    return fixed_sum(F.col(col), scale, alias)


def grouped_counts(df: DataFrame, *keys: str) -> DataFrame:
    """A2: the reference's nested ``{table: {key: [records]}}`` map
    build (``etlService.js:611-625``) is a hash aggregation — at
    scale, ``collect_list`` of full rows explodes memory, so the
    default surface is per-group counts; use ``grouped_collect``
    only when the group payload is bounded."""
    return df.groupBy(*keys).agg(F.count("*").alias("n_records"))


def grouped_collect(df: DataFrame, keys: list[str], payload: str) -> DataFrame:
    """A2 (payload variant): sorted collect_list for deterministic
    output — sorting makes the list order stable across partition
    layouts."""
    return df.groupBy(*keys).agg(F.sort_array(F.collect_list(payload)).alias("items"))


def distinct_keys(df: DataFrame, *cols: str) -> DataFrame:
    """A3: ``[...new Set(keys)]`` (``etlService.js:99``) — a
    shuffle-dedup. At metric-time prefer ``approx_count_distinct``
    (SURVEY §2.4 note)."""
    return df.select(*cols).distinct()


def conditional_aggs(lineitem: DataFrame) -> DataFrame:
    """FILTER-clause aggregation: several differently-predicated
    aggregates over one scan (count_if / filtered fixed-point sums /
    filtered distinct) — the OLAP idiom that replaces N filtered
    subqueries with one pass.

    All predicates evaluate inside the same partial HashAggregate, so
    the plan is scan → partial agg → one exchange of group partials —
    the cheapest possible shape; N separate filtered queries would
    scan the 100 TB fact table N times.
    """
    returned = F.col("l_returnflag") == "R"
    discounted = F.col("l_discount") > 0.05
    return (
        lineitem.groupBy("l_linestatus")
        .agg(
            F.count("*").alias("n_rows"),
            F.count(F.when(returned, 1)).alias("n_returned"),
            fixed_sum(
                F.when(discounted, F.col("l_quantity")).otherwise(F.lit(None)),
                2,
                "qty_discounted",
            ),
            F.countDistinct(
                F.when(returned, F.col("l_orderkey"))
            ).alias("orders_returned"),
        )
    )
