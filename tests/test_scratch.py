"""Temp dirs a query stages are owned by one per-process scratch root
(``rsbsa_etl_spark.scratch``), and the streaming replays share one
scaffold (``rsbsa_etl_spark.streaming.replay``).

The lifecycle cases run in subprocesses with ``TMPDIR`` pointed at a
fresh directory, so what a process leaves behind is visible after it
exits; the static guard keeps new ``mkdtemp`` sites and hand-rolled
AvailableNow drains from reappearing."""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
import textwrap
from pathlib import Path

from tests.conftest import SF_DIR

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "rsbsa_etl_spark"


def _run(code: str, tmpdir: Path) -> dict:
    env = dict(os.environ, TMPDIR=str(tmpdir), PYTHONPATH=str(ROOT))
    out = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(code)], capture_output=True,
        text=True, check=True, cwd=str(tmpdir), env=env, timeout=600,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def _staged(tmpdir: Path) -> list[str]:
    return sorted(p.name for p in tmpdir.iterdir() if p.name.startswith("rsbsa_"))


def test_staging_keys_leave_no_temp_dirs(tmp_path):
    """three keys that stage files (a state-swap replay, a two-source
    join replay, an ORC round trip) are built and collected; their
    files exist while the process runs and are gone once it exits."""
    got = _run(f"""
        import json, os
        from rsbsa_etl_spark.registry import QUERIES
        from rsbsa_etl_spark.session import get_spark

        spark = get_spark(cpus=2, shuffle_partitions=4)
        rows = {{k: len(QUERIES[k](spark, {SF_DIR!r}).collect())
                for k in ("stream_cdc_apply", "stream_join", "scan_orc_roundtrip")}}
        tmp = os.environ["TMPDIR"]
        during = {{
            d: sum(len(fs) for _r, _d, fs in os.walk(os.path.join(tmp, d)))
            for d in os.listdir(tmp) if d.startswith("rsbsa_")
        }}
        spark.stop()
        print(json.dumps({{"rows": rows, "during": during}}))
    """, tmp_path)
    assert all(n > 0 for n in got["rows"].values()), got["rows"]
    assert got["during"] and all(got["during"].values()), got["during"]
    assert _staged(tmp_path) == []


def test_forked_child_exit_keeps_parent_root(tmp_path):
    got = _run("""
        import json, os
        from rsbsa_etl_spark.scratch import scratch_dir, scratch_root

        scratch_dir("rsbsa_probe_")
        parent_root = scratch_root()
        r, w = os.pipe()
        pid = os.fork()
        if pid == 0:  # exits through the normal atexit path
            os.close(r)
            scratch_dir("rsbsa_probe_")
            os.write(w, scratch_root().encode())
            os.close(w)
            raise SystemExit(0)
        os.close(w)
        child_root = os.read(r, 4096).decode()
        os.waitpid(pid, 0)
        print(json.dumps({
            "parent_root": parent_root,
            "child_root": child_root,
            "parent_root_kept": os.path.isdir(parent_root),
            "child_root_kept": os.path.isdir(child_root),
        }))
    """, tmp_path)
    assert got["child_root"] != got["parent_root"]
    assert got["parent_root_kept"]
    assert not got["child_root_kept"]
    assert _staged(tmp_path) == []


def test_temp_dirs_and_availablenow_drains_have_one_home():
    """only the scratch helper calls ``tempfile.mkdtemp``, and
    ``trigger(availableNow=True)`` appears only in the replay
    scaffold, the log tail and the sync stream."""
    mkdtemp, drains = set(), set()
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).as_posix()
        for call in ast.walk(ast.parse(path.read_text())):
            if not isinstance(call, ast.Call):
                continue
            name = getattr(call.func, "attr", None) or getattr(call.func, "id", None)
            if name == "mkdtemp":
                mkdtemp.add(rel)
            elif name == "trigger" and any(
                k.arg == "availableNow" for k in call.keywords
            ):
                drains.add(rel)
    assert mkdtemp == {"scratch.py"}
    assert drains == {
        "streaming/replay.py", "streaming/tail.py", "streaming/sync_stream.py"
    }
