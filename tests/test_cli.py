"""CLI control-surface tests (SURVEY §2.10 — the reference's
Express API re-expressed as `python -m rsbsa_etl_spark ...`)."""

from __future__ import annotations

from rsbsa_etl_spark.__main__ import main


def test_list_prints_registry(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out.split()
    assert "agg_sum_groups" in out and "stream_tail" in out
    assert len(out) >= 130


def test_tail_drains_and_parses(spark, tmp_path, capsys):
    logdir = tmp_path / "logs"
    logdir.mkdir()
    (logdir / "app.log").write_text(
        "[2026-01-01T00:00:00] started\n\nno timestamp here\n"
    )
    assert main(["tail", "--log-dir", str(logdir)]) == 0
    out = capsys.readouterr().out
    assert "[2026-01-01T00:00:00] started" in out
    assert "[__missing__] no timestamp here" in out


def test_status_reports_session(spark, capsys):
    assert main(["status"]) == 0
    out = capsys.readouterr().out
    assert "active streaming queries:" in out


def test_explain_audits_plan(spark, capsys):
    """`explain` prints the PLANAUDIT row of the same build `audit`
    runs: a driver-loop key's captured merge-round plans and a
    streaming replay's micro-batch plan are summed into its counters,
    not dropped for the returned frame's plan alone."""
    from rsbsa_etl_spark.__main__ import main
    from rsbsa_etl_spark.plans.audit import LABELS, audit_key

    from tests.conftest import SF_DIR

    assert main(["explain", "join_bloom_pruned", "--sf-dir", SF_DIR]) == 0
    out = capsys.readouterr().out
    assert "sort-merge joins:           0" in out
    assert "broadcast joins:            2" in out
    assert main(["explain", "no_such_key"]) == 2
    assert main(
        ["explain", "join_bloom_pruned", "--sf-dir", SF_DIR, "--full"]
    ) == 0
    assert "== Physical Plan ==" in capsys.readouterr().out

    for key in ("bpe_train", "stream_tail"):
        assert main(["explain", key, "--sf-dir", SF_DIR]) == 0
        out = capsys.readouterr().out
        printed = {}
        for line in out.splitlines():
            label, _sep, n = line.strip().rpartition(":")
            if label in LABELS.values():
                printed[label] = int(n)
        row = audit_key(spark, key, SF_DIR)
        assert row.pop("key") == key
        assert printed == {LABELS[field]: n for field, n in row.items()}
        assert row["scans"] > 0 and (
            row.get("loop_plans") or row.get("micro_batch_plans")
        )


def test_explain_points_at_scale_dial(spark, capsys):
    """every SCALE_DIALS exact arm must tell the interactive user
    which shipped sibling to use at scale, and the dial must point
    back at its audit arm — both keys must really exist in the
    registry (r7 verdict item 6)."""
    from rsbsa_etl_spark.__main__ import main
    from rsbsa_etl_spark.registry import (
        QUERIES,
        SCALE_DIAL_OF,
        SCALE_DIALS,
    )

    from tests.conftest import SF_DIR

    for exact, (dial, _why) in SCALE_DIALS.items():
        assert exact in QUERIES and dial in QUERIES, (exact, dial)
    assert main(["explain", "trend_theil_sen", "--sf-dir", SF_DIR]) == 0
    out = capsys.readouterr().out
    assert "at scale use: trend_theil_sen_capped" in out
    assert main(
        ["explain", "trend_theil_sen_capped", "--sf-dir", SF_DIR]
    ) == 0
    out = capsys.readouterr().out
    assert "exact audit arm: trend_theil_sen" in out
    assert SCALE_DIAL_OF["dedup_containment_capped"] == ["dedup_containment"]
    # a dial serving SEVERAL exact arms must list them all — the plain
    # dict comprehension kept only the last one (r8 advisor)
    assert sorted(SCALE_DIAL_OF["ann_eval"]) == ["ann_mrr", "ann_recall"]
    assert main(["explain", "ann_eval", "--sf-dir", SF_DIR]) == 0
    out = capsys.readouterr().out
    assert "ann_recall" in out and "ann_mrr" in out


def test_verify_gate_smoke(spark, tmp_path, capsys):
    """`verify --keys ...` replicates the driver gate on demand: the
    three sampled keys must come back green, the exit code must be 0,
    and the JSON record must carry the driver's row shape. Unknown or
    EMPTY key lists are usage errors (exit 2) validated before the
    session is created — an empty list must never report a vacuous
    '0/0 green' success."""
    import json

    from tests.conftest import SF_DIR

    out_json = tmp_path / "gate.json"
    rc = main([
        "verify",
        "--keys", "scan_project,agg_sum_groups,cond_coalesce",
        "--sf-dir", SF_DIR,
        "--out", str(out_json),
    ])
    out = capsys.readouterr().out
    assert rc == 0, out
    assert out.count("PASS") == 3 and "FAIL" not in out
    assert "verify: 3/3 green" in out
    rec = json.loads(out_json.read_text())
    assert set(rec) == {"scan_project", "agg_sum_groups", "cond_coalesce"}
    for row in rec.values():
        assert row["rows_match"] and row["schema_match"]
        assert row["hash_match"] and row["err"] is None
        assert row["spark_rows"] == row["oracle_rows"] > 0
    assert main(["verify", "--keys", "nope", "--sf-dir", SF_DIR]) == 2
    # empty / comma-only key lists: usage error, not a 0/0 pass
    assert main(["verify", "--keys", "", "--sf-dir", SF_DIR]) == 2
    assert main(["verify", "--keys", ",,", "--sf-dir", SF_DIR]) == 2


def test_verify_key_actually_detects_mismatches(spark, monkeypatch):
    """the gate must be falsifiable: sabotage a key's oracle three
    ways (row count, column set, values) and assert each is caught —
    a comparator that can only say green is no gate at all."""
    from rsbsa_etl_spark import oracles
    from rsbsa_etl_spark.verify import verify_key

    from tests.conftest import SF_DIR

    base = oracles.ORACLES["scan_project"]

    monkeypatch.setitem(
        oracles.ORACLES, "scan_project", f"SELECT * FROM ({base}) LIMIT 1"
    )
    r = verify_key(spark, "scan_project", SF_DIR)
    assert not r["rows_match"] and not r["hash_match"]

    monkeypatch.setitem(
        oracles.ORACLES,
        "scan_project",
        f"SELECT *, 1 AS extra FROM ({base})",
    )
    r = verify_key(spark, "scan_project", SF_DIR)
    assert not r["schema_match"] and not r["hash_match"]

    # same shape, wrong VALUES: negate one numeric column
    monkeypatch.setitem(
        oracles.ORACLES,
        "scan_project",
        f"SELECT * REPLACE (-l_extendedprice AS l_extendedprice) FROM ({base})",
    )
    r = verify_key(spark, "scan_project", SF_DIR)
    assert r["rows_match"] and r["schema_match"] and not r["hash_match"]
    assert r["err"] and "value mismatch" in r["err"]
