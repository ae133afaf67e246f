"""bench.py's record and its comparison with the previous record,
checked without Spark: the raw common-set ratio is emitted only
against a record taken at the same scale factor on the same core
count."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import bench

TIMINGS = {"a": 1.0, "b": 2.0, "c": 4.0}


def _prev(**fields) -> dict:
    return {"queries": {"a": 2.0, "b": 2.0, "z": 9.0}, "sf": 0.1, "cpus": 4, **fields}


def test_same_sf_and_cpus_give_raw_ratio_over_common_keys():
    assert bench.common_set_comparison(_prev(), TIMINGS, 0.1, 4) == {
        "common_set_n": 2,
        "common_set_prev_sec": 4.0,
        "common_set_now_sec": 3.0,
        "common_set_ratio_raw": 0.75,
    }


@pytest.mark.parametrize(
    "prev",
    [
        _prev(cpus=8),
        _prev(sf=0.01),
        {"queries": {"a": 2.0}, "sf": 0.1},  # a record from before ``cpus``
        {"queries": {"z": 9.0}, "sf": 0.1, "cpus": 4},  # no common key
        None,
        [],
    ],
)
def test_incomparable_previous_record_emits_nothing(prev):
    assert bench.common_set_comparison(prev, TIMINGS, 0.1, 4) == {}


def test_missing_or_unreadable_previous_record_emits_nothing(tmp_path):
    bad = tmp_path / "BENCH_FULL.json"
    bad.write_text('{"queries": {"a": 2.0}, "sf": 0.1, "cpus"')
    for path in (bad, tmp_path / "absent.json"):
        prev = bench.read_record(str(path))
        assert prev is None
        assert bench.common_set_comparison(prev, TIMINGS, 0.1, 4) == {}


def test_no_floor_or_normalized_field():
    """neither the comparison's keys nor any string bench.py writes
    names a host floor or a normalized ratio."""
    assert not any(
        w in k
        for k in bench.common_set_comparison(_prev(), TIMINGS, 0.1, 4)
        for w in ("floor", "normalized")
    )
    tree = ast.parse(Path(bench.__file__).read_text())
    strings = [
        n.value for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    ]
    assert not [s for s in strings if "floor" in s or "normalized" in s]
