"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``rsbsa_etl_spark``; this module only wires
the contract.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

SMOKE_SF_DIR = "/root/testdata/sf0.001"
_ROOT = Path(__file__).resolve().parent


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the TPC-H-Q1-shaped pricing summary
    (``agg_sum_groups``) on sf0.001."""
    from rsbsa_etl_spark.registry import QUERIES

    return QUERIES["agg_sum_groups"](spark, SMOKE_SF_DIR)


def _driver_latest_rows_and_rounds() -> tuple[dict, dict]:
    """Latest committed driver-correctness row per key, plus the round
    number that row came from.

    Reads the in-repo ``CORRECTNESS_r*.json`` records the external
    driver writes each round; later rounds override earlier ones.
    Unreadable files are skipped, and only dict-valued entries are
    key rows.
    """

    def _round_of(p: Path) -> int:
        m = re.search(r"r(\d+)", p.name)
        return int(m.group(1)) if m else 0

    rows: dict = {}
    rounds: dict = {}
    # sort by the PARSED round number, not the filename: lexicographic
    # order breaks at r100 ('r100' < 'r99') and for unpadded rN
    for p in sorted(_ROOT.glob("CORRECTNESS_r*.json"), key=_round_of):
        try:
            data = json.loads(p.read_text())
        except (OSError, ValueError):
            continue
        if isinstance(data, dict):
            rnd = _round_of(p)
            for k, v in data.items():
                if isinstance(v, dict):
                    rows[k] = v
                    rounds[k] = rnd
    return rows, rounds


def _is_green(row: dict) -> bool:
    # Rows-only keys (no oracle) record hash_match/schema_match as
    # null/absent — count them green on rows_match; an explicit
    # False on ANY of the driver's three flags stays red.
    return bool(
        row.get("rows_match")
        and row.get("err") is None
        and row.get("hash_match") is not False
        and row.get("schema_match") is not False
    )


def _sweep_order(keys: Iterable[str], rows: dict, rounds: dict) -> list[str]:
    """``keys`` ordered red → no driver row → green by the round of
    their latest row, oldest first. The sort is stable, so the input
    order breaks ties; record keys absent from ``keys`` are ignored."""

    def tier(k: str) -> tuple[int, int]:
        row = rows.get(k)
        if row is None:
            return (1, 0)
        if not _is_green(row):
            return (0, 0)
        return (2, rounds.get(k, 0))

    return sorted(keys, key=tier)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 plus the
    extension surface (dedup / similarity / text / multimodal /
    windows / streaming).

    The driver's correctness sweep checks the first ~50 keys of this
    dict each round, so the order is the sweep rotation, computed
    from the committed ``CORRECTNESS_r*.json`` rows alone:

    1. keys whose latest driver row is red, so a fix is re-checked
       the next round;
    2. keys with no driver row yet;
    3. green keys by the round of their latest row, oldest first, so
       every key is re-checked within ⌈keys / 50⌉ rounds.

    Registry order breaks ties. The order is computed here, in the
    one function the driver calls, so importing the registry reads no
    record file.

    There is no tier for greens whose code changed since their latest
    row. Detecting that needs a source hash of every key's dependency
    closure, about a second per registry import, and at 273 keys the
    closure hash flagged 154 of them while the key's own source and
    oracle flagged 1: the tier told the sweep little that age does
    not. Correctness does not rest on the rotation:
    ``tests/test_oracle_parity.py`` checks every key against its
    DuckDB oracle on each run.
    """
    from rsbsa_etl_spark.registry import QUERIES

    rows, rounds = _driver_latest_rows_and_rounds()
    return {k: QUERIES[k] for k in _sweep_order(QUERIES, rows, rounds)}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query key — every registered query is
    value-checked, including the streaming keys (their engine output
    is deterministic over the fixtures, so batch SQL is a valid
    oracle) and the multimodal decode path."""
    from rsbsa_etl_spark.oracles import ORACLES

    return dict(ORACLES)
