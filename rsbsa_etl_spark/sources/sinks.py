"""Keyed storage sinks: the write paths' storage-level form
(SURVEY §2.1 K1/K2/K3, §7.3.1).

``operators.sync`` expresses merge *semantics* as pure plans; this
module lands them on parquet storage the way a 100 TB deployment
would:

- the target is partitioned by a stable key bucket
  (``pmod(hash(key), n_buckets)`` — Murmur3, stable across runs and
  engines' lifetimes), so any keyed write touches a bounded,
  pruned set of partition directories;
- incremental writes use **dynamic partition overwrite**
  (``spark.sql.sources.partitionOverwriteMode=dynamic``): only the
  buckets containing incoming keys are rewritten; untouched buckets'
  files are left byte-identical (asserted in tests);
- K1 append is a plain partitioned append.

Delta/Iceberg MERGE replaces the read-merge-rewrite of touched
buckets with a transactional commit; the plan shape (bucket pruning,
anti-join of survivors, partition-local rewrite) is identical —
which is why the semantics layer stays storage-agnostic.

Cite: reference load paths ``services/etlService.js:85-146``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

BUCKET_COL = "key_bucket"


def bucket_of(key_col: str, n_buckets: int) -> F.Column:
    return F.pmod(F.hash(F.col(key_col)), F.lit(n_buckets))


def write_keyed_target(
    df: DataFrame, path: str, key_col: str, n_buckets: int = 64
) -> None:
    """materialize a key-bucketed target table (initial load / K1)."""
    (
        df.withColumn(BUCKET_COL, bucket_of(key_col, n_buckets))
        .repartition(BUCKET_COL)
        .write.mode("overwrite")
        .partitionBy(BUCKET_COL)
        .parquet(path)
    )


def read_keyed_target(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)


def overwrite_by_key_into(
    incoming: DataFrame,
    path: str,
    key_col: str,
    n_buckets: int = 64,
) -> None:
    """K3 (delete-then-insert per key) against parquet storage.

    1. the bucketed incoming frame is persisted once, and one collect
       of its distinct (key, bucket) pairs yields both the touched
       buckets and the incoming key list (an empty frame is a no-op;
       the list is batch-sized, as a broadcast key set would be);
    2. bucket-prune: only the touched ``key_bucket=`` directories that
       exist are read back (``basePath`` plus per-bucket paths,
       existence checked on the Hadoop FileSystem);
    3. survivors: rows of those buckets whose key is NOT among the
       collected keys — a null-safe NOT IN with left-anti semantics:
       target rows with a NULL key survive, NULL incoming keys match
       nothing;
    4. dynamic partition overwrite writes incoming ∪ survivors —
       rewriting exactly the touched buckets, no others — and the
       persisted frame is released.

    The result equals ``operators.sync.overwrite_by_key`` applied to
    the stored table (pinned in tests), but the I/O is proportional
    to the touched buckets, not the table.
    """
    spark = incoming.sparkSession
    inc = incoming.withColumn(BUCKET_COL, bucket_of(key_col, n_buckets)).persist()
    try:
        pairs = inc.select(key_col, BUCKET_COL).distinct().collect()
        if not pairs:
            return
        keys = [k for k, _ in pairs if k is not None]
        parts = _existing_buckets(spark, path, sorted({b for _, b in pairs}))
        out = inc
        if parts:
            existing = spark.read.option("basePath", path).parquet(*parts)
            incoming_key = F.coalesce(F.col(key_col).isin(keys), F.lit(False))
            out = inc.unionByName(existing.where(~incoming_key))
        (
            out.repartition(BUCKET_COL)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(BUCKET_COL)
            .parquet(path)
        )
    finally:
        inc.unpersist()


def _existing_buckets(spark: SparkSession, path: str, buckets) -> list[str]:
    """the ``key_bucket=`` directories of ``path`` among ``buckets``
    that exist on storage."""
    jvm = spark.sparkContext._jvm
    base = jvm.org.apache.hadoop.fs.Path(path)
    fs = base.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    dirs = [f"{path}/{BUCKET_COL}={b}" for b in buckets]
    return [d for d in dirs if fs.exists(jvm.org.apache.hadoop.fs.Path(d))]


def upsert_into(
    updates: DataFrame, path: str, key_col: str, n_buckets: int = 64
) -> None:
    """K2 (last-write-wins upsert) against parquet storage: the same
    bucket-pruned rewrite — an upsert IS a keyed overwrite whose
    incoming batch carries exactly one row per key."""
    overwrite_by_key_into(updates, path, key_col, n_buckets)


#: table formats we know how to drive, in preference order. Delta
#: and Iceberg need their runtime jars + catalog config on the
#: cluster; this container ships neither, so availability is probed
#: at call time and the caller can fall back to plain parquet.
TABLE_FORMATS = ("delta", "iceberg", "parquet")


def table_format_available(spark: SparkSession, fmt: str) -> bool:
    """probe whether a lakehouse table format is usable in THIS
    session. Parquet is built in; Delta/Iceberg are detected by
    their DataSource registration (the jar must be on the Spark
    classpath — a Python-side ``import delta`` alone is not enough,
    so the probe asks the JVM, not pip)."""
    if fmt == "parquet":
        return True
    if fmt not in TABLE_FORMATS:
        return False
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            fmt, spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


def write_managed_table(
    df: DataFrame,
    path: str,
    key_col: str,
    fmt: str = "delta",
    n_buckets: int = 64,
) -> str:
    """write a key-bucketed target in a lakehouse format when its
    runtime is present, falling back down ``TABLE_FORMATS`` to
    parquet otherwise. Returns the format actually used.

    On a real cluster the Delta/Iceberg path replaces
    ``overwrite_by_key_into``'s read-merge-rewrite with a
    transactional ``MERGE INTO`` commit; the bucket layout and plan
    shape are identical (see module docstring), which is what lets
    this fall back without changing any caller's semantics.
    """
    for candidate in (fmt, *TABLE_FORMATS):
        if table_format_available(df.sparkSession, candidate):
            (
                df.withColumn(BUCKET_COL, bucket_of(key_col, n_buckets))
                .repartition(BUCKET_COL)
                .write.mode("overwrite")
                .partitionBy(BUCKET_COL)
                .format(candidate)
                .save(path)
            )
            return candidate
    raise AssertionError("parquet is always available")  # pragma: no cover


def append_into(df: DataFrame, path: str, key_col: str, n_buckets: int = 64) -> None:
    """K1 bulk append into the bucketed layout."""
    (
        df.withColumn(BUCKET_COL, bucket_of(key_col, n_buckets))
        .repartition(BUCKET_COL)
        .write.mode("append")
        .partitionBy(BUCKET_COL)
        .parquet(path)
    )


def compact_files(
    spark: SparkSession,
    path: str,
    out_path: str,
    target_bytes: int = 128 * 1024 * 1024,
) -> int:
    """small-file compaction (the OPTIMIZE maintenance job):
    rewrite a parquet directory into files sized toward
    ``target_bytes``, returning the output file count.

    Streaming ingestion and keyed dynamic-partition overwrites both
    accrete small files; at 100 TB the resulting open/seek overhead
    and parquet-footer bloat dominate scan cost, and the fix is this
    periodic rewrite — Delta ``OPTIMIZE`` / Iceberg ``rewrite_data_
    files`` is exactly this plus a transactional swap.

    The partition count comes from the INPUT's on-disk bytes (driver
    file listing, no data read), so the rewrite is one narrow-ish
    repartition job: coalesce would skip the shuffle but inherits
    input locality (can't split large inputs and keeps skew);
    repartition buys evenly sized output at the cost of one shuffle
    — the standard trade, taken deliberately.
    """
    import math

    from py4j.java_gateway import java_import

    jvm = spark.sparkContext._jvm
    java_import(jvm, "org.apache.hadoop.fs.Path")
    hpath = jvm.Path(path)
    fs = hpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    total = sum(
        f.getLen()
        for f in fs.listStatus(hpath)
        if f.getPath().getName().startswith("part-")
    )
    n_out = max(1, math.ceil(total / target_bytes))
    spark.read.parquet(path).repartition(n_out).write.mode("overwrite").parquet(
        out_path
    )
    out = jvm.Path(out_path)
    return sum(
        1
        for f in fs.listStatus(out)
        if f.getPath().getName().startswith("part-")
    )


def compaction_plan(
    manifest: DataFrame,
    part_col: str = "source",
    size_col: str = "n_chars",
    order_col: str = "doc_id",
    target: int = 4096,
) -> DataFrame:
    """the declarative half of compaction: assign each input file to
    an output shard, per storage partition, sized toward ``target``.

    ``compact_files`` above is the physical rewrite for one
    directory; a 100 TB table has thousands of partitions and the
    maintenance job first needs a PLAN — which files co-locate into
    which output shard — computed from the file manifest (listing
    metadata only, no data read; Delta/Iceberg expose exactly such a
    manifest as ``add_file`` actions / the files metadata table).

    Assignment is the streaming bin-fill: files ordered stably
    within their partition, shard id = cumulative-size-BEFORE(file)
    div target. One window per storage partition over MANIFEST rows
    (file counts, not bytes — a million-file partition is a small
    window), and the plan is itself a DataFrame: joinable back to
    the data for the rewrite's ``repartition`` keys, groupable for
    shard stats. Shards may overshoot ``target`` by at most one
    file, the same guarantee parquet writers give row groups.

    Shard ids are monotone in file order but not necessarily
    contiguous: a file ≥ 2×``target`` advances the running total
    past whole shard intervals and claims an id range of its own.
    Such files are already "compacted" — production OPTIMIZE jobs
    exclude them from the manifest up front.
    """
    w = (
        Window.partitionBy(part_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum_before = F.sum(size_col).over(w) - F.col(size_col)
    return manifest.select(
        part_col,
        order_col,
        F.col(size_col).cast("long").alias(size_col),
        F.floor(cum_before / target).cast("long").alias("out_shard"),
    )


def bucketed_join(
    spark: SparkSession,
    left: DataFrame,
    right: DataFrame,
    key: str,
    n_buckets: int = 8,
    db_dir: str | None = None,
) -> DataFrame:
    """co-located join via BUCKETED TABLES: write both sides
    ``bucketBy(key)`` as managed tables, then join the bucketed
    reads — Spark matches the bucket specs and elides BOTH shuffle
    exchanges (asserted in tests/test_sinks.py).

    This is the 100 TB pattern for a fact table joined on the same
    key by many queries: pay the bucketing shuffle ONCE at write
    time, then every subsequent join (and groupBy on the key) is
    exchange-free. Identical result to the plain join — bucketing
    is a physical layout property, never semantics, which is what
    the oracle (the plain join SQL) pins.
    """
    import tempfile
    import uuid

    if db_dir is None:
        db_dir = tempfile.mkdtemp(prefix="rsbsa_buck_")
    tag = uuid.uuid4().hex[:8]
    lt, rt = f"buck_l_{tag}", f"buck_r_{tag}"
    # explicit LOCATION per table: the warehouse dir is a static conf
    # (set at catalog init), so a cwd-relative default would leak
    # spark-warehouse/ into whatever directory the driver runs from
    (
        left.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", f"{db_dir}/{lt}")
        .saveAsTable(lt)
    )
    (
        right.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", f"{db_dir}/{rt}")
        .saveAsTable(rt)
    )
    return spark.table(lt).join(spark.table(rt), key)
