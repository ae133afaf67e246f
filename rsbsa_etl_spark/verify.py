"""Local replica of the driver's correctness gate, as a library.

ONE comparator consumed by three surfaces so they cannot drift:

- ``python -m rsbsa_etl_spark verify [--all-keys|--keys a,b] [--sf-dir D]``
  — the end-of-round full-registry gate (previously a hand-run
  ritual recorded in LOCAL_SWEEP_r*.md), now reproducible with one
  command;
- ``tests/test_oracle_parity.py`` — the per-key pytest sweep at
  sf0.001, which imports the type-lattice and canonicalization
  helpers from here;
- ad-hoc debugging (``verify_keys(spark, ["dedup_minhash"], sf)``).

Per key it runs the Spark query AND its DuckDB oracle on the same
parquet fixtures and emits the driver's row shape —
``rows_match`` / ``schema_match`` / ``hash_match`` / ``err`` — where
``hash_match`` is the order-insensitive typed value compare: column
names sorted, floats rounded to 9 places, ints coerced to int64 for
VALUE comparison but with a separate result-TYPE gate on a shared
lattice (the driver's value hash is typed: round 3's only red had
identical values but HUGEINT-vs-BIGINT types).
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    import duckdb
    import pandas as pd
    from pyspark.sql import SparkSession


def duck_con(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    """a DuckDB connection with the fixture tables registered as
    views over the same parquet files the Spark side reads."""
    import duckdb

    from rsbsa_etl_spark.sources.fixtures import FIXTURE_TABLES

    import os

    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # Spark-style multi-file table dirs (tools/gen_sf.py writes
        # them; any real pipeline output looks like this) need the
        # glob form — a single file keeps the direct path
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def spark_type_class(dt) -> str:
    """Collapse a Spark DataType onto the shared type lattice."""
    from pyspark.sql import types as T

    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "INT"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "FLOAT"
    if isinstance(dt, T.DecimalType):
        return f"DECIMAL({dt.precision},{dt.scale})"
    if isinstance(dt, T.StringType):
        return "STRING"
    if isinstance(dt, T.BooleanType):
        return "BOOL"
    if isinstance(dt, T.DateType):
        return "DATE"
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return "TIMESTAMP"
    if isinstance(dt, T.ArrayType):
        return f"LIST<{spark_type_class(dt.elementType)}>"
    if isinstance(dt, T.BinaryType):
        return "BINARY"
    if isinstance(dt, T.MapType):
        return "MAP"
    if isinstance(dt, T.StructType):
        return "STRUCT"
    return str(dt)


def duck_type_class(name: str) -> str:
    """Collapse a DuckDB type name onto the shared type lattice.

    HUGEINT/UBIGINT intentionally map to their own class (they exceed
    int64, and the driver's typed hash treats them differently from
    BIGINT), so an oracle producing one fails against a Spark LongType
    column instead of silently "matching" after int64 coercion.
    """
    s = str(name).upper()
    if s.endswith("[]"):
        return f"LIST<{duck_type_class(s[:-2])}>"
    if s.startswith("DECIMAL"):
        return s.replace(" ", "")
    if s in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER"):
        return "INT"
    if s in ("HUGEINT", "UHUGEINT", "UBIGINT"):
        return "INT128"
    if s in ("FLOAT", "REAL", "DOUBLE"):
        return "FLOAT"
    if s in ("VARCHAR", "TEXT", "STRING"):
        return "STRING"
    if s == "BOOLEAN":
        return "BOOL"
    if s == "DATE":
        return "DATE"
    if s.startswith("TIMESTAMP"):
        return "TIMESTAMP"
    if s in ("BLOB", "BYTEA", "BINARY"):
        return "BINARY"
    if s.startswith("MAP"):
        return "MAP"
    if s.startswith("STRUCT"):
        return "STRUCT"
    return s


def canon(df: "pd.DataFrame") -> "pd.DataFrame":
    """order-insensitive canonical form: columns sorted by name,
    floats rounded to 9 places, ints widened to int64, everything
    else stringified, rows sorted by all columns."""
    import pandas as pd

    out = df.reindex(sorted(df.columns), axis=1).copy()
    for c in out.columns:
        s = out[c]
        if pd.api.types.is_float_dtype(s):
            out[c] = s.astype(float).round(9)
        elif pd.api.types.is_integer_dtype(s):
            out[c] = s.astype("int64")
        else:
            out[c] = s.astype(str)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def _layout_bound_oracle(name: str, sf_dir: str) -> "str | None":
    """Oracle SQL for keys whose answer depends on the physical FILE
    LAYOUT, not just table content. ``scan_file_provenance`` reports
    (file_name, n_rows) per physical file — on the driver's
    single-file fixtures the committed ORACLES entry (which hardcodes
    that layout, the only one the driver's 10-view contract can see)
    is correct, but on any multi-file table dir the right answer is
    layout-shaped, so this gate derives the oracle from the actual
    file listing instead (caught by the round-8 generated-fixture
    sweep: 3 Spark rows vs the hardcoded 1)."""
    import os

    if name != "scan_file_provenance":
        return None
    p = os.path.join(sf_dir, "lineitem.parquet")
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    return f"""
SELECT parse_filename(filename) AS file_name,
       count(*) AS n_rows
FROM read_parquet('{src}', filename=true)
GROUP BY 1 ORDER BY 1
"""


def verify_key(
    spark: "SparkSession",
    name: str,
    sf_dir: str,
    con: "duckdb.DuckDBPyConnection | None" = None,
) -> dict:
    """run ONE registry key and its oracle; return the driver's row
    shape. Never raises — an engine error lands in ``err``."""
    import pandas as pd

    from rsbsa_etl_spark.oracles import ORACLES
    from rsbsa_etl_spark.registry import QUERIES

    row = {
        "rows_match": False,
        "schema_match": False,
        "hash_match": False,
        "spark_rows": None,
        "oracle_rows": None,
        "err": None,
    }
    own_con = con is None
    try:
        sdf = QUERIES[name](spark, sf_dir)
        stypes = {
            f.name: spark_type_class(f.dataType) for f in sdf.schema.fields
        }
        got = sdf.toPandas()
        if own_con:
            con = duck_con(sf_dir)
        rel = con.sql(_layout_bound_oracle(name, sf_dir) or ORACLES[name])
        dtypes = dict(
            zip(rel.columns, (duck_type_class(t) for t in rel.types))
        )
        want = rel.df()
        row["spark_rows"], row["oracle_rows"] = len(got), len(want)
        row["rows_match"] = len(got) == len(want)
        row["schema_match"] = sorted(got.columns) == sorted(want.columns)
        if not (row["rows_match"] and row["schema_match"]):
            return row
        drift = {
            c: (stypes[c], dtypes[c])
            for c in stypes
            if c in dtypes and stypes[c] != dtypes[c]
        }
        if drift:
            row["err"] = f"result-type drift: {drift}"
            return row
        try:
            pd.testing.assert_frame_equal(
                canon(got), canon(want),
                check_dtype=False, check_exact=False, rtol=0, atol=1e-9,
            )
            row["hash_match"] = True
        except AssertionError as exc:
            row["err"] = f"value mismatch: {str(exc)[:300]}"
    except Exception as exc:  # noqa: BLE001 — gate reports, never raises
        row["err"] = f"{type(exc).__name__}: {str(exc)[:300]}"
    finally:
        if own_con and con is not None:
            con.close()
        # release per-key persists (ann_eval's exact ranking,
        # knn_triangles' edge set, weighted_sample's intra table, …):
        # the keys' results are lazy so they cannot unpersist their own
        # intermediates, and without this every sweep invocation leaks
        # one cached dataset for the session lifetime (r8 advisor).
        # Same per-key discipline as bench.py's timing loop.
        try:
            spark.catalog.clearCache()
        except Exception:  # noqa: BLE001 — cleanup must never mask a row
            pass
    return row


def row_green(row: dict) -> bool:
    """the gate's strict green predicate — all three match flags true
    and no error. ONE definition shared by the CLI and the tests (the
    driver-side rotation has its own, laxer ``__spark_entry__._is_green``,
    which tolerates absent flags on historical rows-only records)."""
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match")
        and row.get("err") is None
    )


def verify_keys(
    spark: "SparkSession", keys: list[str], sf_dir: str
) -> dict[str, dict]:
    """the full gate: verify each key in order, sharing one DuckDB
    connection (view registration is per-connection, not per-key)."""
    con = duck_con(sf_dir)
    try:
        return {k: verify_key(spark, k, sf_dir, con) for k in keys}
    finally:
        con.close()
