"""Sorts, pagination, top-k (SURVEY §2.5).

- O1 total order by key      — ``models/EtlLogger.js:12``
- O2 LIMIT/OFFSET pagination — ``EtlLogger.js:13`` + loop
  ``etlService.js:716-735``
- O3 tail-N newest-first     — ``index.js:237``

LIMIT/OFFSET over a distributed table is only deterministic under a
total order on a unique key (SURVEY §7.3.2) — implemented as a
``row_number`` window so page N is reproducible and
oracle-comparable. At scale, pagination itself is the anti-pattern
(each page re-sorts); the incremental scan (``scans.incremental_scan``)
is the replacement — ``page`` exists for semantic parity.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def ordered(df: DataFrame, *cols: str, ascending: bool = True) -> DataFrame:
    """O1: global sort (range-partitioned exchange in Spark)."""
    exprs = [F.col(c).asc() if ascending else F.col(c).desc() for c in cols]
    return df.orderBy(*exprs)


def page(df: DataFrame, order_col: str, offset: int, limit: int) -> DataFrame:
    """O2: deterministic page [offset, offset+limit) under a total
    order on a unique key.

    A single-partition window is fine for page-sized outputs; the
    sort below it is distributed. (A global row_number over 100 TB
    would serialize — which is exactly why O2 is parity-only.)
    """
    w = Window.orderBy(F.col(order_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where((F.col("_rn") > offset) & (F.col("_rn") <= offset + limit))
        .drop("_rn")
    )


def top_k_recent(df: DataFrame, ts_col: str, tiebreak_col: str, k: int) -> DataFrame:
    """O3: last-k by recency, newest first (``index.js:237``).

    ``orderBy(desc).limit(k)`` compiles to TakeOrderedAndProject —
    a per-partition top-k + driver merge, no global sort. Scales to
    any table size for small k."""
    return df.orderBy(F.col(ts_col).desc(), F.col(tiebreak_col).desc()).limit(k)


def zorder_key(a: Column, b: Column, bits: int = 8) -> Column:
    """Morton (Z-order) key: interleave the low ``bits`` of two
    dimensions — the space-filling-curve layout key that makes a
    single file-sort serve range predicates on BOTH columns (data
    skipping via min/max stats stays tight on either dimension).
    Pure integer arithmetic (``(x >> i) & 1`` as div/mod), identical
    in any SQL dialect — no engine-specific bit intrinsics.
    """
    z = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.floor(a / F.lit(2**i)).cast("long") % 2
        bbit = F.floor(b / F.lit(2**i)).cast("long") % 2
        z = z + abit * F.lit(2 ** (2 * i)) + bbit * F.lit(2 ** (2 * i + 1))
    return z


def zorder_layout(df: DataFrame, a_col: Column, b_col: Column, k: int) -> DataFrame:
    """the layout pass: rows ordered by their Z-key (here top-k for
    a bounded result; the write path would ``sortWithinPartitions``
    by the same key before landing files)."""
    out = df.withColumn("zval", zorder_key(a_col, b_col))
    # nulls-last pins NULL-dimension rows to DuckDB's default
    # ordering (Spark ASC ranks NULLs first, which would let them
    # crowd the top-k); null-free fixtures are unchanged
    return out.orderBy(
        F.col("zval").asc_nulls_last(), F.col("event_id").asc()
    ).limit(k)
