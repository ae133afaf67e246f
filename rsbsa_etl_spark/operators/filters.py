"""Filters and validity routing (SURVEY §2.2).

- P2 not-null conjunction — ``models/EtlLogger.js:10-11``
- P4 row-validity split (valid → process, invalid → warnings) —
  ``services/etlService.js:612-619``
- P6 non-empty-line filter — ``index.js:228``
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Column, functions as F


def not_null_filter(df: DataFrame, *cols: str) -> DataFrame:
    """P2: keep rows where every listed column is non-null."""
    cond = F.lit(True)
    for c in cols:
        cond = cond & F.col(c).isNotNull()
    return df.where(cond)


def validity_split(df: DataFrame, cond: Column) -> tuple[DataFrame, DataFrame]:
    """P4: route rows into (valid, invalid) sides.

    The reference drops invalid rows into a warnings list
    (``etlService.js:612-619``); here both sides stay DataFrames so
    the rejects can flow to a quarantine sink. One scan serves both
    sides (Spark reuses the cached scan across the two filters when
    the plan is materialized together, e.g. via the tagged union in
    ``validity_tag``).
    """
    return df.where(cond), df.where(~cond)


def validity_tag(df: DataFrame, cond: Column, tag_col: str = "validity") -> DataFrame:
    """P4 as a single plan: tag rows valid/invalid instead of
    splitting — one scan, no union, and ``groupBy(tag)`` gives the
    processed/skipped accounting (``etlService.js:604-607``)."""
    return df.withColumn(tag_col, F.when(cond, F.lit("valid")).otherwise(F.lit("invalid")))


def observed_validity(df: DataFrame, cond: Column):
    """P4/A5 accounting as ``df.observe()``: the processed/skipped
    counters of the reference (``services/etlService.js:604-607``)
    collected as plan-attached metrics — ZERO extra pass over the
    data, vs the naive ``df.count()`` + ``df.where(cond).count()``
    which scans twice. At 100 TB, run-level metrics must ride the
    action that already happens, never trigger their own.

    Returns ``(df, observation)``; read ``observation.get`` after
    the first action on ``df`` materializes.
    """
    from pyspark.sql import Observation

    obs = Observation()
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.when(cond, 1).otherwise(0)).alias("n_valid"),
    )
    return out, obs


def domain_audit(events: DataFrame) -> DataFrame:
    """declarative data-quality audit (the deequ/Great-Expectations
    shape): evaluate a rule set — domain membership (the Spark
    answer to the reference's MySQL ``ENUM`` columns, SURVEY §1.2:
    ``ENUM('FFRS','NFFIS',...)`` has no Spark type, so it becomes a
    checked constraint), range bounds, null/negativity, and key
    uniqueness — in ONE pass and report violations per rule.

    Plan shape: every rule folds to a conditional sum inside a
    single hash aggregate over one scan (uniqueness rides the same
    agg as ``count - count(distinct)``); the rule-per-row reshape is
    a constant-width ``stack`` on a 1-row result. At 100 TB the
    audit costs exactly one table scan regardless of rule count —
    the property ``observed_validity`` pins for binary accounting,
    generalized to a rule registry."""
    agg = events.agg(
        F.count("*").alias("n_checked"),
        F.sum(
            (~F.col("event_type").isin("signup", "click", "purchase", "view"))
            .cast("long")
        ).alias("v_domain"),
        F.sum(
            ((F.col("value") < 0) | (F.col("value") > 250)).cast("long")
        ).alias("v_range"),
        F.sum(
            (F.col("user_id").isNull() | (F.col("user_id") < 0)).cast("long")
        ).alias("v_user"),
        (F.count("*") - F.count_distinct(F.col("event_id"))).alias("v_unique"),
    )
    return agg.selectExpr(
        "stack(4, "
        "'type_in_domain', n_checked, v_domain, "
        "'value_in_range', n_checked, v_range, "
        "'user_id_valid', n_checked, v_user, "
        "'event_id_unique', n_checked, v_unique"
        ") AS (rule, n_checked, n_violations)"
    ).withColumn("passed", F.col("n_violations") == 0)


def check_domains(df: DataFrame, table: str) -> DataFrame:
    """schema-registry-driven CHECK validation for the 12 reference
    target tables: Spark has no ENUM or ZEROFILL, so the DDL
    inventory (``schemas.DOMAIN_TABLES``) records each ENUM column's
    value set and each ZEROFILL geo code's display width, and this
    op enforces them — ``isin()`` per ENUM column (NULL passes: the
    reference columns are nullable and MySQL ENUM admits NULL), and
    digits-only per ZEROFILL column (``etlService.js:254,376,384``
    ENUMs; ``:277-290,537-545`` zerofilled geo codes; mapping rules
    SURVEY §1.2). The ZEROFILL check is deliberately NOT a max-LENGTH
    check: MySQL display width is a rendering hint, not a storage
    constraint — an over-width code is legal as long as it fits the
    column's INTEGER TYPE, and ``zerofill_format`` passes it through
    unchanged (ZEROFILL never truncates). What IS enforced is the
    storage range (``schemas.ZEROFILL_MAX``): brgy1/mun1 etc. are
    TINYINT UNSIGNED in the DDL, so '1234' can never exist there and
    flags invalid, while the INT UNSIGNED geo codes accept any value
    up to 2^32-1 regardless of display width — the width-vs-range
    distinction the r7 advisor pinned.

    Returns the input plus one ``_chk_<col>`` boolean per constrained
    column and ``_valid`` (conjunction) — composable with
    ``validity_split`` for the P4 valid/invalid routing. Pure
    column expressions: whole-stage-codegen, no shuffle.
    """
    from rsbsa_etl_spark.schemas import (
        ENUM_DOMAINS,
        ZEROFILL_MAX,
        ZEROFILL_WIDTHS,
    )

    checks: list[Column] = []
    out = df
    for (tbl, col), domain in sorted(ENUM_DOMAINS.items()):
        if tbl != table or col not in df.columns:
            continue
        c = F.col(col).isNull() | F.col(col).isin(*domain)
        out = out.withColumn(f"_chk_{col}", c)
        checks.append(c)
    for (tbl, col), _width in sorted(ZEROFILL_WIDTHS.items()):
        if tbl != table or col not in df.columns:
            continue
        # digits-only AND within the integer type's unsigned storage
        # range. The length bound keeps the bigint cast from
        # overflowing to NULL on absurd inputs (>18 digits exceeds
        # every range here anyway), so the check is always a
        # deterministic boolean, never a NULL that would poison the
        # _valid conjunction.
        c = F.col(col).isNull() | (
            F.col(col).rlike(r"^[0-9]+$")
            & (F.length(col) <= 18)
            & (F.col(col).cast("bigint") <= F.lit(ZEROFILL_MAX[(tbl, col)]))
        )
        out = out.withColumn(f"_chk_{col}", c)
        checks.append(c)
    valid = F.lit(True)
    for c in checks:
        valid = valid & c
    return out.withColumn("_valid", valid)


def zerofill_format(df: DataFrame, table: str) -> DataFrame:
    """apply the ZEROFILL display rule on output: lpad each geo-code
    column to its DDL width with '0' (``INT(3) UNSIGNED ZEROFILL``
    renders 7 as '007' — digits-matter padding, SURVEY §1.2).
    Values already at or beyond the width pass through unchanged
    (ZEROFILL never truncates), as do NULLs. Pure projection,
    codegen-friendly."""
    from rsbsa_etl_spark.schemas import ZEROFILL_WIDTHS

    out = df
    for (tbl, col), width in sorted(ZEROFILL_WIDTHS.items()):
        if tbl != table or col not in df.columns:
            continue
        # MySQL ZEROFILL pads but NEVER truncates; Spark's lpad
        # truncates to the target length, so values already at or
        # over the display width must pass through untouched
        out = out.withColumn(
            col,
            F.when(
                F.col(col).isNotNull() & (F.length(col) < width),
                F.lpad(F.col(col), width, "0"),
            ).otherwise(F.col(col)),
        )
    return out
