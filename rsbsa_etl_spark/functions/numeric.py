"""Portable numeric rounding & exact sums.

Neither ``round()`` nor a double→DECIMAL cast is portable between
engines: Spark rounds the *shortest decimal string* of a double
(``BigDecimal.valueOf`` HALF_UP) while DuckDB rounds the scaled
binary value (``llround(x * 10^s)``) — they disagree in both
directions near ties (e.g. 2.675 → 2.67 vs 2.68; 420501.345… →
.35 vs .34). SURVEY §7.3.7's hash-match killer, in cast form.

The portable construction uses only IEEE-754 double ops, which are
bit-identical in every engine:

- scalar rounding:  ``floor(x * 10^s + 0.5) / 10^s``
  (round-half-up toward +inf; multiply, add, floor, divide are each
  correctly-rounded IEEE ops → same bits everywhere)
- exact sums:       ``sum(CAST(floor(x * 10^s + 0.5) AS BIGINT))``
  then divide once at the end. Summing scaled integers makes the
  aggregate order-independent (long addition is associative), which
  double summation is not. Long overflow headroom: 2^63 ≈ 9.2e18 —
  at scale 2 that is ~9e16 in value terms, far above any fixture
  aggregate; at true 100 TB scale use DECIMAL(38,0) accumulation.

Oracle SQL mirrors: ``sql_round`` / ``sql_sum_fixed`` below.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def dec_round(col: Column, scale: int) -> Column:
    """portable round-half-up at ``scale`` decimals (pure double)."""
    q = float(10**scale)
    return F.floor(col * F.lit(q) + F.lit(0.5)) / F.lit(q)


def fixed_sum(col: Column, scale: int, alias: str | None = None) -> Column:
    """order-independent sum of doubles at fixed precision:
    quantize each value to an integer (long), sum exactly, descale."""
    q = float(10**scale)
    out = (F.sum(F.floor(col * F.lit(q) + F.lit(0.5))).cast("double") / F.lit(q))
    return out.alias(alias) if alias else out


def sql_round(expr: str, scale: int) -> str:
    """DuckDB mirror of ``dec_round``.

    The expr is force-cast to DOUBLE: DuckDB parses bare numeric
    literals as DECIMAL, and DECIMAL×DECIMAL arithmetic both widens
    differently and can overflow (DECIMAL(18) × 100) — the whole
    portability contract relies on every op being IEEE-754 double.

    Literal-precision caveat: a bare numeric literal with ≥16
    significant digits parses via DECIMAL whose int64 mantissa
    exceeds 2^53 — the low bit is lost BEFORE the cast (measured:
    -900719926.3984375 parses 1 ulp off; the property suite pins
    this). If an oracle ever needs a full-precision double literal,
    embed it as a quoted string ('<repr>' — string→DOUBLE is exact
    strtod); params.py constants are all ≤15 digits, so generated
    oracles are safe.
    """
    q = float(10**scale)
    return f"floor(CAST(({expr}) AS DOUBLE) * {q!r} + 0.5) / {q!r}"


def sql_sum_fixed(expr: str, scale: int) -> str:
    """DuckDB mirror of ``fixed_sum``."""
    q = float(10**scale)
    return (
        f"CAST(sum(CAST(floor(CAST(({expr}) AS DOUBLE) * {q!r} + 0.5)"
        f" AS BIGINT)) AS DOUBLE) / {q!r}"
    )


def hex_bigint(hex_col: Column | str, start: int = 1, ndigits: int = 8) -> Column:
    """``ndigits`` hex digits of ``hex_col`` (an md5 hex string) from
    1-based ``start`` as BIGINT — the one Spark-side hex-prefix hash;
    its DuckDB twin is ``oracles._hexpoly``. ``ndigits`` ≤ 15 keeps
    the value inside BIGINT."""
    return F.conv(F.substring(hex_col, start, ndigits), 16, 10).cast("bigint")


def salted_pri(salt: str, col: Column) -> Column:
    """deterministic 32-bit priority hash: first 8 hex digits of
    ``md5(salt || '|' || key)`` as BIGINT — the sampling/sharding
    primitive shared by the budget/fixed-N/per-group samplers and
    the streaming reservoir. One definition so the scheme (and its
    DuckDB twin, ``oracles._hexpoly``) can never drift per call
    site."""
    return hex_bigint(F.md5(F.concat_ws("|", F.lit(salt), col.cast("string"))))
