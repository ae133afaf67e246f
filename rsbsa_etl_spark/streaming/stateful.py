"""Custom stateful streaming operators (SURVEY §2.9 U2/U3 streaming
twin; extension surface).

The reference keeps run-level state in module globals
(``isEtlRunning``/``totalProcessed`` — ``index.js:24-28``,
``services/etlService.js:723-725``). The engine-side equivalent is
explicit keyed state in the state store: ``applyInPandasWithState``
gives a per-key Arrow-batched hook with fault-tolerant state — the
Spark-native form for operators the built-in aggregations can't
express.

Operators:

- ``running_user_totals`` — per-user cumulative (n_events, total)
  emitted on every micro-batch (A5 running totals as keyed state
  rather than a driver-side fold). Values are quantized to integer
  cents *inside the state* so accumulation order can never drift the
  double sum — the same fixed-point discipline as
  ``functions.numeric``.
- ``streaming_first_seen`` — streaming exact dedup: the first row
  per key ever seen is emitted, later duplicates (same batch or any
  later batch) are dropped. State is one flag per key; at 100 TB a
  GroupStateTimeout bounds it — kept eternal here for determinism.

``run_totals_replay`` drives the totals operator through two
checkpointed AvailableNow phases and reduces the update stream to
the final per-user state, which equals one grouped aggregation —
making a *custom stateful streaming operator* oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from rsbsa_etl_spark.streaming.replay import (
    Replay,
    availablenow_replay,
    fold_into_state,
    state_replay,
)

TOTALS_OUTPUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

TOTALS_STATE = StructType(
    [StructField("n", LongType()), StructField("cents", LongType())]
)


def running_user_totals(events: DataFrame) -> DataFrame:
    """streaming: per-user running (count, fixed-point sum) via keyed
    state; each micro-batch emits the updated cumulative row for
    every user present in that batch.

    The state function is defined *nested* on purpose: cloudpickle
    serializes module-level functions by reference (workers would
    need this package importable), nested ones by value — so the
    operator works regardless of the workers' sys.path.
    """

    def totals_fn(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        n, cents = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            cents += int(np.floor(pdf["value"].to_numpy() * 100.0 + 0.5).sum())
        state.update((n, cents))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [cents / 100.0]}
        )

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            totals_fn,
            outputStructType=TOTALS_OUTPUT,
            stateStructType=TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


FIRST_SEEN_OUTPUT = StructType(
    [
        StructField("dedup_key", LongType()),
        StructField("event_id", LongType()),
    ]
)

FIRST_SEEN_STATE = StructType([StructField("seen", LongType())])


def streaming_first_seen(events: DataFrame, key_col: str = "dedup_key") -> DataFrame:
    """streaming exact dedup: emit the first (lowest event_id) row
    per key; every later occurrence is dropped via one state entry
    per key. (Nested state fn: see ``running_user_totals``.)"""

    def first_seen_fn(key, pdfs, state: GroupState):
        import pandas as pd

        first_id = None
        for pdf in pdfs:
            if len(pdf):
                m = int(pdf["event_id"].min())
                first_id = m if first_id is None else min(first_id, m)
        if state.exists or first_id is None:
            return  # duplicate from a later batch (or empty group): drop
        state.update((1,))
        yield pd.DataFrame({"dedup_key": [key[0]], "event_id": [first_id]})

    return events.groupBy(key_col).applyInPandasWithState(
        first_seen_fn,
        outputStructType=FIRST_SEEN_OUTPUT,
        stateStructType=FIRST_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_totals_replay(events: DataFrame) -> DataFrame:
    """drive ``running_user_totals`` through two checkpointed
    AvailableNow phases (split by event_id parity, so both phases
    touch most users and state genuinely carries across batches),
    then reduce the update stream to the final per-user state.

    n_events and total_value are monotone per user, so the final
    state is ``max`` over the emitted updates — and equals the plain
    batch aggregation, which is the DuckDB oracle.
    """
    spark = events.sparkSession
    r = Replay(spark, "rsbsa_stateful_", "event_id bigint, user_id bigint, value double")
    proj = events.select("event_id", "user_id", "value")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").parquet(r.out)

    r.phases(
        [proj.where(F.col("event_id") % 2 == 0), proj.where(F.col("event_id") % 2 != 0)],
        lambda stream: (
            running_user_totals(stream).writeStream.outputMode("update").foreachBatch(sink)
        ),
        "stateful.run_totals_replay",
    )
    return spark.read.parquet(r.out).groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max("total_value").alias("total_value"),
    )


def dedup_replay(events: DataFrame, redeliver_mod: int = 6) -> DataFrame:
    """streaming exactly-once dedup via the built-in
    ``dropDuplicatesWithinWatermark`` across two checkpointed
    AvailableNow phases with simulated at-least-once redelivery:
    phase 1 streams the even event_ids; phase 2 streams the odd ones
    PLUS a re-delivery of every ``redeliver_mod``-th phase-1 row.
    The dedup state recovered from the checkpoint drops every
    redelivered row, so the emitted set is exactly one row per
    event_id — the whole table, which is the DuckDB oracle.

    This is the Kafka-consumer-restart shape: upstream replays a
    suffix after a crash, the engine absorbs it. State is bounded by
    the watermark delay (keys expire ``delay`` after first arrival)
    — at 100 TB/day state holds one key per event inside the
    horizon, not per event ever seen; the delay is sized to the
    redelivery window, not the stream's lifetime.
    """
    from rsbsa_etl_spark.functions.numeric import dec_round

    proj = events.select(
        "event_id", "ts", "event_type", dec_round(F.col("value"), 2).alias("value")
    )
    even = F.col("event_id") % 2 == 0
    redelivered = proj.where(even & (F.col("event_id") % redeliver_mod == 0))
    return availablenow_replay(
        events.sparkSession,
        [proj.where(even), proj.where(~even).unionByName(redelivered)],
        "event_id bigint, ts timestamp, event_type string, value double",
        lambda stream: stream.withWatermark(
            "ts", "45 days"
        ).dropDuplicatesWithinWatermark(["event_id"]),
        prefix="rsbsa_sdedup_",
    ).select("event_id", "event_type", "value")


def _by_parity(df: DataFrame, col: str) -> list[DataFrame]:
    """two phases split by ``col`` parity, so both interleave keys."""
    return [df.where(F.col(col) % 2 == 0), df.where(F.col(col) % 2 == 1)]


def sample_stream_replay(docs: DataFrame, n: int | None = None) -> DataFrame:
    """streaming exactly-N reservoir: each micro-batch's smallest
    salted doc_id hashes merge with the persisted reservoir, keeping
    the global N smallest — the streaming twin of
    ``curation.fixed_n_sample``, and a third stream/batch
    equivalence pin (after ``stream_burst`` and the sync stream).

    Hash-min reservoirs are MERGEABLE: any doc in the true global
    top-N is in its own batch's top-N (fewer than N better hashes
    exist anywhere), so per-batch top-N → merge → top-N loses
    nothing — the same pigeonhole as KMV merge and the two-level
    group sample. The final state therefore equals the batch sample
    EXACTLY, and the oracle is the batch SQL verbatim. State is N
    rows, constant forever — the property that makes a forever-
    running "keep me a uniform sample of everything seen" job
    feasible.

    Mechanics: ``state_replay`` — the two staged files arrive as
    separate micro-batches of one AvailableNow run, each merged into
    the state table by write-new-then-swap (a job cannot overwrite
    its own input).
    """
    from rsbsa_etl_spark import params as P
    from rsbsa_etl_spark.functions.numeric import salted_pri

    n_keep = P.SAMPLE_N if n is None else n
    pri = salted_pri("fx1", F.col("doc_id"))
    return state_replay(
        docs.sparkSession,
        _by_parity(docs.select("doc_id"), "doc_id"),
        "doc_id bigint",
        lambda batch: batch.select("doc_id", pri.alias("pri")),
        lambda rows: rows.orderBy("pri", "doc_id").limit(n_keep),
        "rsbsa_res_",
    )


def _cdc_rows(batch: DataFrame) -> DataFrame:
    return batch.select(
        "user_id", F.lit(1).cast("long").alias("n"), "ts_us", "event_id", "value"
    )


def _cdc_fold(rows: DataFrame) -> DataFrame:
    """per-user (additive count, argmax-by-(ts, event_id) record)."""
    last = F.max(F.struct(F.col("ts_us"), F.col("event_id"), F.col("value")))
    return rows.groupBy("user_id").agg(
        F.sum("n").cast("long").alias("n"),
        last.alias("last"),
    ).select(
        "user_id",
        "n",
        F.col("last.ts_us").alias("ts_us"),
        F.col("last.event_id").alias("event_id"),
        F.col("last.value").alias("value"),
    )


def merge_cdc_batch(
    spark, base: str, batch: DataFrame, batch_id: int
) -> None:
    """the CDC apply's ``foreachBatch`` merge: fold the batch's
    per-key partial (additive count + argmax record) into the parquet
    state dir at ``base``/state through ``fold_into_state``, whose
    persisted batch-id fence keeps a re-delivered micro-batch from
    double-counting the additive ``n``."""
    fold_into_state(spark, base, batch_id, _cdc_rows(batch), _cdc_fold)


def cdc_apply_replay(events: DataFrame) -> DataFrame:
    """streaming CDC apply: a keyed change stream folded into a
    last-write-wins state table — the streaming twin of the K2
    ``upsert_merge`` batch sink, and a fourth stream/batch
    equivalence pin.

    The per-key state row is (n_updates, argmax-by-(ts, event_id)
    record), and BOTH components are mergeable: counts add, and the
    lexicographic max of (ts_us, event_id, value) structs commutes
    across any batch arrival order — so out-of-order CDC delivery
    cannot change the final table, and the final state equals the
    batch last-write-wins aggregate EXACTLY (the oracle is that
    batch SQL). State is one row per live key — the bound that lets
    the apply job run forever.

    Mechanics follow the reservoir replay (``state_replay``); the
    persisted batch-id fence of ``fold_into_state`` is what makes
    the additive ``n_updates`` component safe under re-delivery.
    """
    from rsbsa_etl_spark.functions.numeric import dec_round

    proj = events.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
    )
    state = state_replay(
        events.sparkSession,
        _by_parity(proj, "event_id"),
        "event_id bigint, user_id bigint, ts_us bigint, value double",
        _cdc_rows,
        _cdc_fold,
        "rsbsa_cdc_",
    )
    return state.select(
        "user_id",
        F.col("n").alias("n_updates"),
        F.col("ts_us").alias("last_ts_us"),
        dec_round(F.col("value"), 4).alias("last_value"),
    )


def hll_stream_replay(events: DataFrame) -> DataFrame:
    """streaming HyperLogLog: per-micro-batch register tables folded
    into persistent state by REGISTER MAX — the fifth stream/batch
    equivalence pin, and the one that demonstrates why sketches are
    the native streaming aggregate: the merge is idempotent AND
    commutative (max of maxes), so out-of-order or re-delivered
    micro-batches cannot change the registers (contrast
    ``cdc_apply_replay``, whose additive count component depends on
    the batch-id fence).

    Final state == the batch ``hll_sketch`` output EXACTLY (the
    oracle is that batch SQL verbatim). State is groups × 64
    register rows, constant forever at any event rate.

    Mechanics follow the reservoir replay (``state_replay``), the
    event-id parity split interleaving users and types across the
    two micro-batches.
    """
    from rsbsa_etl_spark.operators.analytics import _hll_fold, _hll_registers

    state = state_replay(
        events.sparkSession,
        _by_parity(events.select("event_id", "user_id", "event_type"), "event_id"),
        "event_id bigint, user_id bigint, event_type string",
        _hll_registers,
        lambda regs: regs.groupBy("event_type", "bucket").agg(F.max("reg").alias("reg")),
        "rsbsa_shll_",
    )
    # fold the final registers through the SAME tail the batch
    # operator uses, so a constant fix cannot break the stream/batch
    # equivalence pin
    return _hll_fold(state)
