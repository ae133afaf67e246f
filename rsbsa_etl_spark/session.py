"""SparkSession factory.

Centralizes the configuration knobs that matter at scale so every
entry point (tests, bench, driver harness) gets the same tuned
session:

- AQE on (runtime re-plan: skew joins, dynamic coalescing, runtime
  broadcast conversion) — replaces all of the reference's hand-tuned
  batching (``services/etlService.js:14`` batchSize=50000).
- ``spark.sql.session.timeZone=UTC`` — parquet timestamps are naive;
  pinning UTC makes Spark and the DuckDB oracle read identical
  instants (SURVEY §7.3.4).
- Arrow enabled for any Pandas-UDF path.
- shuffle partitions sized to cores for local mode; on a real cluster
  AQE coalescing makes the initial number less critical.
- Python workers start from ``rsbsa_etl_spark.pydaemon``: the stock
  daemon's per-task ``importlib.invalidate_caches()`` re-parsed all of
  ``pyspark.zip`` on every task (0.13-0.24 s, about a third of a
  small retrieval op); this daemon re-reads a zip archive only when
  its ``(st_mtime_ns, st_size)`` stat changed.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: the directory holding this package, put on the Python workers'
#: path so they can import ``rsbsa_etl_spark.pydaemon`` from any
#: driver cwd (``local[k]`` workers share the driver's filesystem)
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "rsbsa_etl_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` or all cores; shuffle
    partitions default to the core count (never the 200 default,
    which over-parallelizes local runs and tiny fixtures).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 4)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at its TRUE default (r16, measured):
        # sizing post-shuffle partitions purely by bytes
        # (parallelismFirst=false + 64m advisory — guide §2.2's
        # recommendation for byte-bound shuffles) coalesced every
        # small fixture shuffle to ONE task and serialized the
        # compute-dense Python stages behind it (trend_theil_sen
        # 2.1→4.0 s, ivf_train3 1.5→4.2 s at sf0.1): AQE's coalescing
        # is blind to downstream CPU per row, and this engine's heavy
        # stages are grouped Arrow kernels where bytes ≪ compute.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs evaluate row-at-a-time (BatchEvalPython) unless
        # Arrow transfer is opted in — with it, the UDTF surface is
        # batched like every other Python path (plan-hygiene-tested)
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # small parquet fixtures collapse to ONE input partition with
        # the 4 MiB default openCostInBytes (maxSplitBytes floors at
        # it), serializing all downstream per-row work onto one core.
        # Lowering it lets minPartitionNum (= defaultParallelism)
        # actually split small files; irrelevant at real scale where
        # files exceed maxPartitionBytes anyway.
        .config("spark.sql.files.openCostInBytes", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "rsbsa_etl_spark.pydaemon")
        # lands after pyspark.zip and py4j on the worker's sys.path
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Pin the JVM locale: Java's String.toLowerCase (behind every
        # lower()/normalization in the text families) applies the
        # DEFAULT locale's case rules — on a Turkish-locale JVM,
        # lower('I') is 'ı', silently changing every hash of a
        # non-ASCII corpus per deployment. Root-locale-stable hashing
        # is a correctness property at 100 TB (measured and pinned by
        # tests/test_property.py::test_unicode_normalization_contract).
        .config(
            "spark.driver.extraJavaOptions",
            "-Duser.language=en -Duser.country=US",
        )
        .config(
            "spark.executor.extraJavaOptions",
            "-Duser.language=en -Duser.country=US",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # WindowExec's only WARN ("No Partition Defined") fires for EVERY
    # global window, including the audited bounded ones (page-sized
    # outputs, B-replicate ranks, 64-bucket tables, block-total
    # carries) — wall-to-wall repeats drowned real regressions in
    # bench logs (round-5 verdict). A per-site constant partitioner
    # can't suppress it: Spark 4's optimizer ELIMINATES provably-
    # constant window partitions (lit(0), crc32(c)*0 — both folded,
    # measured), so the spec is empty again by execution. The durable
    # replacement signal is machine-checked instead: the registry-wide
    # unpartitioned-window audit in tests/test_plans.py pins an
    # explicit per-key allowlist, so an UNPLANNED global window fails
    # pytest rather than scrolling past in a log tail.
    # ResolveWriteToStream warns "spark.sql.adaptive.enabled is not
    # supported in streaming" on EVERY streaming query start (twice
    # per sync tick) — a fixed fact of this session's conf, not news.
    try:
        jvm = spark.sparkContext._jvm
        for logger in (
            "org.apache.spark.sql.execution.window.WindowExec",
            "org.apache.spark.sql.execution.streaming.runtime.ResolveWriteToStream",
        ):
            jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
                logger, jvm.org.apache.logging.log4j.Level.ERROR
            )
    except Exception:  # non-log4j2 logging backends: keep the warnings
        pass
    # extraJavaOptions only applies when THIS call launches the JVM
    # (client-mode conf is forwarded pre-launch by pyspark's
    # gateway); if a JVM already existed, the locale pin above is
    # silently ignored. Turkish/Azerbaijani case rules change
    # lower('I') and therefore every content hash of a non-ASCII
    # corpus — fail loudly instead of hashing differently.
    lang = spark.sparkContext._jvm.java.util.Locale.getDefault().getLanguage()
    if lang in ("tr", "az"):
        raise RuntimeError(
            "driver JVM locale is Turkish/Azerbaijani — its contextual "
            "case rules change text normalization hashes; launch the "
            "JVM with -Duser.language=en (session.py pins this when it "
            "owns the JVM launch, but an already-running JVM keeps its "
            "locale)"
        )
    return spark
