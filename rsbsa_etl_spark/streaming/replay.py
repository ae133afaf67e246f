"""The scaffold behind every deterministic streaming replay.

A replay stages batch DataFrames as whole parquet files in a source
directory and drains them through the real streaming engine with
checkpointed AvailableNow runs, so a multi-phase run is a pure
function of its inputs and the result is value-checkable against a
batch oracle. The replays differ only in what they build on the
stream and in their sink kind: a parquet file sink (``out``), a
``foreachBatch`` append (``out``), or a ``foreachBatch`` merge into a
swapped state table (``state``). The layout, the one-file dump and
the drain live here once.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame

from rsbsa_etl_spark.scratch import scratch_dir
from rsbsa_etl_spark.streaming.plan_capture import finish


def dump_single_file(df: DataFrame, base: str, src: str, name: str) -> None:
    """write ``df`` as exactly ONE parquet file at ``src/name``, so it
    arrives as one micro-batch (or one ``maxFilesPerTrigger=1``
    batch); ``base/_tmp`` is the staging dir."""
    tmp = f"{base}/_tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], f"{src}/{name}")
    shutil.rmtree(tmp)


class Replay:
    """one replay's directories under a scratch dir: a source dir per
    name in ``sources`` receiving dumped files, ``ckpt`` carrying
    offsets and operator state across phases, and ``out`` or
    ``state`` holding what the sink wrote."""

    def __init__(self, spark, prefix: str, schema: str, sources=("src",)) -> None:
        self.spark, self.schema = spark, schema
        self.base = scratch_dir(prefix)
        self.out, self.state = f"{self.base}/out", f"{self.base}/state"
        for s in sources:
            os.makedirs(f"{self.base}/{s}")

    def dump(self, df: DataFrame, name: str, source: str = "src") -> None:
        dump_single_file(df, self.base, f"{self.base}/{source}", name)

    def stream(self, source: str = "src", **options) -> DataFrame:
        return (
            self.spark.readStream.schema(self.schema)
            .options(**options)
            .parquet(f"{self.base}/{source}")
        )

    def drain(self, writer, tag: str) -> None:
        """run ``writer`` once over everything staged so far, resuming
        from (and committing to) the replay's checkpoint."""
        q = (
            writer.option("checkpointLocation", f"{self.base}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        finish(q, tag)

    def phases(self, dfs: list[DataFrame], writer, tag: str) -> None:
        """dump each of ``dfs`` as its own file and drain after each:
        the checkpoint carries watermark and operator state from one
        phase into the next. ``writer`` maps the source stream to the
        sink's ``DataStreamWriter``."""
        for i, df in enumerate(dfs):
            self.dump(df, f"f{i}.parquet")
            self.drain(writer(self.stream()), tag)


def file_sink(df: DataFrame, out: str):
    """append-mode parquet file sink at ``out``."""
    return df.writeStream.outputMode("append").format("parquet").option("path", out)


def availablenow_replay(
    spark,
    phases: list[DataFrame],
    schema: str,
    build,
    prefix: str,
) -> DataFrame:
    """multi-phase replay into an append file sink: ``build`` maps the
    source stream to the sink-ready projection (watermark + agg or
    dedup + select). Returns the batch read of the sink."""
    r = Replay(spark, prefix, schema)
    r.phases(phases, lambda s: file_sink(build(s), r.out), "replay.availablenow")
    return spark.read.parquet(r.out)


def recover_state_dir(base: str) -> None:
    """crash recovery for the write-new-then-swap state protocol: a
    failure between ``swap_state_dir``'s two renames leaves the
    previous state parked at ``state_old`` — restore it; a failure
    after rename-in but before delete-old leaves a stale superseded
    copy — drop it so the next swap's rename-aside has a clear
    destination."""
    state = os.path.join(base, "state")
    state_old = os.path.join(base, "state_old")
    if not os.path.isdir(state) and os.path.isdir(state_old):
        os.rename(state_old, state)
    elif os.path.isdir(state) and os.path.isdir(state_old):
        shutil.rmtree(state_old)


def swap_state_dir(base: str) -> None:
    """swap ``base``/state_new into place: rename-aside → rename-in
    → delete-old. Each rename is atomic, so no crash point leaves
    BOTH the old and new state missing (the naive
    delete-old-then-rename ordering has a window where a crash
    destroys the accumulated state and a redelivered micro-batch
    silently rebuilds it from scratch)."""
    state = os.path.join(base, "state")
    state_old = os.path.join(base, "state_old")
    if os.path.isdir(state):
        os.rename(state, state_old)
    os.rename(os.path.join(base, "state_new"), state)
    if os.path.isdir(state_old):
        shutil.rmtree(state_old)


def fold_into_state(spark, base: str, batch_id: int, rows: DataFrame, fold) -> None:
    """merge one micro-batch into the parquet state table at
    ``base``/state: recover → skip a re-delivered batch → union
    ``rows`` with the state → ``fold`` → write ``state_new`` → swap.

    The last-applied ``batch_id`` is persisted INSIDE the state dir
    (``_last_batch_id`` — underscore-prefixed files are invisible to
    parquet reads), so the high-water mark travels with the state it
    describes and a batch at or below it is skipped. That fence is
    what keeps an additive component (the CDC apply's count) from
    double-counting a batch the engine re-delivers after a crash;
    idempotent folds (register max, hash-min reservoir) need no
    fence but lose nothing by it. The state is small and the next
    batch re-reads it, so it is written as one file."""
    state = os.path.join(base, "state")
    recover_state_dir(base)
    marker = os.path.join(state, "_last_batch_id")
    if os.path.isfile(marker):
        with open(marker) as fh:
            if batch_id <= int(fh.read().strip()):
                return  # re-delivered batch: already folded in
    if os.path.isdir(state):
        rows = spark.read.parquet(state).unionByName(rows)
    fold(rows).coalesce(1).write.mode("overwrite").parquet(f"{base}/state_new")
    with open(f"{base}/state_new/_last_batch_id", "w") as fh:
        fh.write(str(batch_id))
    swap_state_dir(base)


def state_replay(
    spark, phases: list[DataFrame], schema: str, rows, fold, prefix: str
) -> DataFrame:
    """stage every phase, then drain them in ONE AvailableNow run with
    ``maxFilesPerTrigger=1``, so each file is its own micro-batch;
    ``foreachBatch`` folds ``rows(batch)`` into the state table
    (``fold_into_state``). Returns the batch read of the final
    state."""
    r = Replay(spark, prefix, schema)
    for i, df in enumerate(phases):
        r.dump(df, f"f{i}.parquet")

    def merge(batch: DataFrame, batch_id: int) -> None:
        fold_into_state(spark, r.base, batch_id, rows(batch), fold)

    r.drain(
        r.stream(maxFilesPerTrigger=1).writeStream.foreachBatch(merge),
        "replay.state",
    )
    return spark.read.parquet(r.state)
