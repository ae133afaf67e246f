"""The Python worker daemon that ``get_spark`` sessions start
(``rsbsa_etl_spark.pydaemon``): its stat-checked zip invalidation, run
on a temp archive without installing it in this process; the worker
side on the shared session; and a session started outside the repo."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

from rsbsa_etl_spark import pydaemon

ROOT = Path(__file__).resolve().parent.parent


def _write_zip(path: Path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


def test_import_patches_nothing():
    assert zipimport.zipimporter.invalidate_caches is pydaemon._stock_invalidate_caches


def test_invalidate_rereads_only_a_changed_archive(tmp_path):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"mod_a.py": "A = 1\n"})
    imp = zipimport.zipimporter(str(archive))

    pydaemon.invalidate_caches(imp)  # first call reads and records the stat
    files = imp._files
    pydaemon.invalidate_caches(imp)
    assert imp._files is files
    assert imp.find_spec("mod_b") is None

    _write_zip(archive, {"mod_a.py": "A = 1\n", "mod_b.py": "B = 2\n"})
    pydaemon.invalidate_caches(imp)
    assert imp._files is not files
    assert imp.find_spec("mod_b") is not None


def test_worker_runs_the_repo_daemon(spark):
    """Inside one Python task: the worker was forked from
    ``rsbsa_etl_spark.pydaemon``; the package's parent directory is on
    ``sys.path`` after pyspark.zip and py4j, shadowing neither; and
    a further ``importlib.invalidate_caches()`` re-reads no
    ``pyspark.zip`` importer (the stock daemon re-parses every one of
    them)."""
    package_parent = str(ROOT)

    def probe(batches):
        import importlib
        import os
        import sys
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        main_spec = getattr(sys.modules["__main__"], "__spec__", None)
        importers = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter)
            and f.archive.endswith("pyspark.zip")
        ]
        spark_zips = [
            i for i, p in enumerate(sys.path)
            if os.path.basename(p).startswith(("pyspark.zip", "py4j-"))
        ]
        before = [id(f._files) for f in importers]
        importlib.invalidate_caches()
        yield pa.RecordBatch.from_pylist([{
            "main": main_spec.name if main_spec else None,
            "package_after_zips": len(spark_zips) == 2
            and package_parent in sys.path[max(spark_zips) + 1:],
            "importers": len(importers),
            "kept": before == [id(f._files) for f in importers],
        }])

    rows = (
        spark.range(1, numPartitions=1)
        .mapInArrow(
            probe,
            "main string, package_after_zips boolean, importers long, kept boolean",
        )
        .collect()
    )
    assert len(rows) == 1
    assert rows[0]["main"] == "rsbsa_etl_spark.pydaemon"
    assert rows[0]["package_after_zips"]
    assert rows[0]["importers"] > 0
    assert rows[0]["kept"]


def test_session_from_outside_the_repo_runs_python_tasks(tmp_path):
    """If workers cannot import the daemon, every Python UDF fails:
    start ``get_spark`` in a cwd outside the repo, with no PYTHONPATH,
    and run one ``mapInArrow``."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from rsbsa_etl_spark.session import get_spark

        def double(batches):
            import pyarrow.compute as pc
            for b in batches:
                yield b.set_column(0, "id", pc.multiply(b.column(0), 2))

        spark = get_spark(cpus=1)
        df = spark.range(4, numPartitions=2)
        print("ROWS", sorted(r.id for r in df.mapInArrow(double, df.schema).collect()))
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    assert "ROWS [0, 2, 4, 6]" in out.stdout.splitlines()
