"""Benchmark inputs, made from the seed inside the checkout.

    python3 perfbench/fixture.py --seed 1 --workload retrieval_mix

prints the fixture directory for that seed after making sure it holds
what the workload needs:

- the tables: ``tools/gen_sf.py --sf 0.1 --seed <seed> --emb-clusters 64``
  (the committed generator, with clustered embeddings so that bound
  pruning in the retrieval family has structure to exploit). Its
  ``--ref`` tables, region and nation, are the sf-invariant TPC-H
  dimensions, written here so that nothing is read from outside the
  checkout;
- the DuckDB oracle results of the workload's keys, pickled under
  ``oracles/`` and keyed by SQL text: some oracles take seconds at
  sf0.1, and every run checks against them.

``run.py`` calls this as a child process, so that neither the
generator nor DuckDB adds to the measured process's imports or memory.
``OracleCache`` is the run's read-only view of the pickled results.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

SF = 0.1
EMB_CLUSTERS = 64
#: fixtures kept in the cache; the least recently used go first
KEEP = 12

_STAMP = "fixture.done"


def fixture_dir(seed: int) -> str:
    return os.path.join(CACHE, f"sf{SF}-seed{seed}-clusters{EMB_CLUSTERS}")


def _write_dims(out: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out, exist_ok=True)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    pq.write_table(
        pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(regions, pa.string()),
        }),
        os.path.join(out, "region.parquet"),
    )
    pq.write_table(
        pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        os.path.join(out, "nation.parquet"),
    )


def _evict() -> None:
    done = [
        d for d in (os.path.join(CACHE, n) for n in os.listdir(CACHE))
        if os.path.exists(os.path.join(d, _STAMP))
    ]
    done.sort(key=lambda d: os.path.getmtime(os.path.join(d, _STAMP)))
    for d in done[:-KEEP]:
        shutil.rmtree(d, ignore_errors=True)


def ensure_fixture(seed: int) -> str:
    out = fixture_dir(seed)
    stamp = os.path.join(out, _STAMP)
    if not os.path.exists(stamp):
        dims = os.path.join(CACHE, "dims")
        if not os.path.exists(os.path.join(dims, "nation.parquet")):
            _write_dims(dims)
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "gen_sf.py"),
             "--sf", str(SF), "--seed", str(seed),
             "--emb-clusters", str(EMB_CLUSTERS), "--ref", dims, "--out", tmp],
            check=True, stdout=sys.stderr,
        )
        open(os.path.join(tmp, _STAMP), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.replace(tmp, out)
    os.utime(stamp)
    _evict()
    return out


def _oracle_path(sf_dir: str, sql: str) -> str:
    h = hashlib.sha256(sql.encode()).hexdigest()[:24]
    return os.path.join(sf_dir, "oracles", f"{h}.pkl")


def ensure_oracles(sf_dir: str, sqls) -> None:
    """compute and pickle every oracle result not yet cached."""
    import pandas as pd

    todo = [s for s in sqls if not os.path.exists(_oracle_path(sf_dir, s))]
    if not todo:
        return
    from rsbsa_etl_spark.verify import duck_con

    os.makedirs(os.path.join(sf_dir, "oracles"), exist_ok=True)
    con = duck_con(sf_dir)
    try:
        con.execute("SET memory_limit='3GB'")
        con.execute("SET threads=4")
        for sql in todo:
            rel = con.sql(sql)
            path = _oracle_path(sf_dir, sql)
            pd.to_pickle(
                (list(rel.columns), [str(t) for t in rel.types], rel.df()),
                path + ".tmp",
            )
            os.replace(path + ".tmp", path)
    finally:
        con.close()


class _Result:
    """the part of a DuckDB relation ``verify.verify_key`` reads."""

    def __init__(self, columns: list, types: list, frame) -> None:
        self.columns = columns
        self.types = types
        self._frame = frame

    def df(self):
        return self._frame.copy()

    def __len__(self) -> int:
        return len(self._frame)


class OracleCache:
    """a DuckDB connection stand-in whose ``sql`` results come from
    the pickles ``ensure_oracles`` wrote."""

    def __init__(self, sf_dir: str) -> None:
        self.sf_dir = sf_dir

    def sql(self, sql: str) -> _Result:
        import pandas as pd

        return _Result(*pd.read_pickle(_oracle_path(self.sf_dir, sql)))

    def rows(self, key: str) -> int:
        """the oracle's row count for a registry key."""
        from rsbsa_etl_spark.oracles import ORACLES

        return len(self.sql(ORACLES[key]))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--workload", required=True)
    args = ap.parse_args()
    sys.path.insert(0, REPO)
    from workloads import WORKLOADS

    sf_dir = ensure_fixture(args.seed)
    ensure_oracles(sf_dir, WORKLOADS[args.workload]().oracle_sqls().values())
    print(sf_dir)


if __name__ == "__main__":
    main()
