"""Registry wrappers — corpus-curation family: sampling, mixing, DSIR, filtering and
the composed curation pipelines.

Split out of registry.py by family (r12 verdict item 8); the
driver contract is unchanged — ``registry.QUERIES`` re-exports
every wrapper, and each key's oracle stays in oracles.ORACLES.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from rsbsa_etl_spark import params as P
from rsbsa_etl_spark.functions import curation, dedup, multimodal, textstats
from rsbsa_etl_spark.functions.numeric import dec_round, fixed_sum
from rsbsa_etl_spark.operators import filters
from rsbsa_etl_spark.sources.fixtures import load
from rsbsa_etl_spark.streaming import windows as win


def repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics (dup-token / dup-2gram
    fractions) — the quality-filter rules of MassiveText."""
    from rsbsa_etl_spark.functions import curation

    return curation.repetition_stats(load(spark, sf_dir, "documents"))


def decontam_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """benchmark-decontamination n-gram overlap vs an eval set
    (broadcast semi-probe + per-doc agg)."""
    from rsbsa_etl_spark.functions import curation

    return curation.decontam_overlap(load(spark, sf_dir, "documents"))


def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """concat-then-chunk LM sequence packing: per-shard token
    offsets and block spans."""
    from rsbsa_etl_spark.functions import curation

    return curation.pack_sequences(load(spark, sf_dir, "documents"))


def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regex PII scrub (emails, phone numbers) with removal counts —
    narrow codegen'd map, no shuffle."""
    from rsbsa_etl_spark.functions import curation

    return curation.pii_redact(load(spark, sf_dir, "customer"))


def sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deterministic temperature (alpha=0.5) source rebalancing via
    integer md5 thresholds."""
    from rsbsa_etl_spark.functions import curation

    return curation.temperature_sample(load(spark, sf_dir, "documents"))


def sample_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hash-shuffled docs taken until the running token total hits
    the budget — distributed two-pass prefix sum, not one global
    window task."""
    from rsbsa_etl_spark.functions import curation

    return curation.token_budget_sample(load(spark, sf_dir, "documents"))


def group_sample_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exactly-N per event_type via the two-level exact top-N (no
    one-task-per-group sort); oracle is the naive single window."""
    from rsbsa_etl_spark.operators.analytics import group_sample_n as _gs

    return _gs(load(spark, sf_dir, "events"))


def bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """one BPE training count round: top adjacent char pairs."""
    return textstats.bpe_pair_counts(load(spark, sf_dir, "documents"))


def bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training (3 merge rounds): count adjacent
    symbol pairs -> merge the argmax, on a vocabulary-sized table --
    emits the merges.txt artifact, value-checked per round."""
    return textstats.bpe_train(load(spark, sf_dir, "documents"))


def bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE inference: apply the 3 learned merges per distinct word,
    join back per document -- (n_tokens, n_symbols,
    chars_per_symbol), the corpus token-pricing numbers."""
    return textstats.bpe_segment(load(spark, sf_dir, "documents"))


def lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lang_id vs stored label confusion counts (classifier eval)."""
    return textstats.lang_confusion(load(spark, sf_dir, "documents"))


def tokenize_offsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token -> char offset map (span alignment primitive)."""
    return textstats.tokenize_offsets(load(spark, sf_dir, "documents"))


def corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """one-row dataset card: volume, coverage, exact-dup rate."""
    return textstats.corpus_summary(load(spark, sf_dir, "documents"))


def scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """directory-partitioned rewrite + partition-predicate read:
    the scan touches only the selected partition (plan-asserted)."""
    from rsbsa_etl_spark.operators.scans import partition_pruned_scan

    return partition_pruned_scan(load(spark, sf_dir, "events"))


def ts_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trend / day-of-week seasonality / residual of the daily event
    series, in exact 7x-scaled integer arithmetic."""
    from rsbsa_etl_spark.operators.analytics import ts_decompose as _td

    return _td(load(spark, sf_dir, "events"))


def window_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-user consecutive-day activity streaks (gaps-and-islands
    via the day-minus-rownumber anchor)."""
    from rsbsa_etl_spark.operators.analytics import gap_islands

    return gap_islands(load(spark, sf_dir, "events"))


def join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """co-located join through bucketed tables: pay the bucketing
    shuffle at write time, join exchange-free afterwards. Layout
    only — the oracle is the plain join."""
    from rsbsa_etl_spark.sources.sinks import bucketed_join

    cust = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    orders = load(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey"
    )
    return bucketed_join(spark, orders, cust, "custkey").select(
        "o_orderkey", "custkey", "c_mktsegment"
    )


def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """byte-stride downsample of binary payloads (resize analog) —
    Arrow-batched, metadata out, fully oracle-checked on ASCII."""
    frames = multimodal.attach_binary(load(spark, sf_dir, "documents"))
    return multimodal.resize_payloads(frames)


def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartile segmentation of the orders fact — boundaries via
    the percentile_disc aggregate + one broadcast row, no ntile
    global-sort window anywhere."""
    from rsbsa_etl_spark.operators.analytics import rfm_segments as _rfm

    return _rfm(load(spark, sf_dir, "orders"))


def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """contrastive-training hard negatives: every vector's top-k
    most-similar DIFFERENT-label vectors — exact label-filtered kNN
    through the same tiled block-matmul as knn_graph."""
    from rsbsa_etl_spark.functions.similarity import hard_negatives as _hn

    return _hn(load(spark, sf_dir, "embeddings"))


def ann_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """persisted-IVF lifecycle: build the index (members parquet
    partitioned by cell id + centroid table) into a tempdir, then
    serve the benchmark queries from it — the probed cells become a
    literal partition filter, so the members scan prunes to
    nprobe/n_centroids of the data at planning time. Semantics (and
    the oracle) are ann_ivf's verbatim: one semantics, two physical
    strategies."""
    import os

    from rsbsa_etl_spark.scratch import scratch_dir
    from rsbsa_etl_spark.sources.ann_index import (
        build_ivf_index,
        query_ivf_index,
        query_vectors_from_table,
    )

    emb = load(spark, sf_dir, "embeddings")
    path = os.path.join(scratch_dir("rsbsa_ivf_"), "index")
    build_ivf_index(emb, path)
    return query_ivf_index(spark, path, query_vectors_from_table(emb))


def hard_negatives_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hard-negative mining over the IVF graph — the scale dial for
    hard_negatives: O(n^1.5·nprobe) probed-cell blocks with the
    same-label mask applied inside each block; value-checked by the
    composed knn_graph_ivf+label oracle."""
    from rsbsa_etl_spark.functions.similarity import (
        hard_negatives_ivf as _hni,
    )

    return _hni(load(spark, sf_dir, "embeddings"))


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-node degree / triangle count / clustering coefficient of
    the exact kNN graph — node-iterator triangle join, edges
    node-linear and persisted once. At scale use
    ``graph_triangles_ivf``: the cost here is the inherited exact
    graph build (measured exponent 1.11), not the triangle join."""
    from rsbsa_etl_spark.functions.similarity import knn_triangles

    return knn_triangles(load(spark, sf_dir, "embeddings"))


def graph_triangles_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the scale dial: identical triangle core over the
    ``knn_graph_ivf`` graph (O(n^1.5·nprobe) build); the stats stay
    fully value-checked via the composed oracle."""
    from rsbsa_etl_spark.functions.similarity import knn_triangles_ivf

    return knn_triangles_ivf(load(spark, sf_dir, "embeddings"))


def ts_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """daily-series autocorrelation at lags 1..7 in exact integer
    arithmetic — one binned-table self-equi-join via lag explode."""
    from rsbsa_etl_spark.operators.analytics import ts_autocorr as _ac

    return _ac(load(spark, sf_dir, "events"))


def k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """quasi-identifier k-anonymity audit (privacy gate): group
    sizes of (lang, source, generalized length), under-K flagged."""
    from rsbsa_etl_spark.functions.curation import k_anonymity as _ka

    return _ka(load(spark, sf_dir, "documents"))


def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """centered 7-day rolling median of the daily series — the
    missing median window re-expressed as a constant-frame
    collect_list + array_sort + middle element."""
    from rsbsa_etl_spark.operators.analytics import (
        window_rolling_median as _rm,
    )

    return _rm(load(spark, sf_dir, "events"))


def state_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time-in-state rollup of the SCD2 value bands — exact integer
    microseconds, one lead window + one grouped sum."""
    from rsbsa_etl_spark.operators.analytics import state_durations as _sd

    return _sd(load(spark, sf_dir, "events"))


def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming CDC apply through the checkpointed engine: keyed
    last-write-wins state folded per micro-batch (mergeable argmax +
    additive counts), final state == the batch aggregate exactly."""
    from rsbsa_etl_spark.streaming.stateful import cdc_apply_replay

    return cdc_apply_replay(load(spark, sf_dir, "events"))


def feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hashing-trick bag-of-words: dense FEATURE_HASH_DIM count
    vector per doc, no vocabulary build or dictionary shuffle.

    Driver-facing shape: the count vector is projected to scalar
    ``v0..v{D-1}`` bigint columns (array cells are unhashable in
    the driver's pandas canonicalizer)."""
    vecs = textstats.feature_hash_vectors(load(spark, sf_dir, "documents"))
    return vecs.select(
        "doc_id",
        "n_tokens",
        *[
            F.col("vec")[i].alias(f"v{i}")
            for i in range(P.FEATURE_HASH_DIM)
        ],
    )


def quantile_bucketize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """equi-depth decile binning of line-item prices — boundaries
    via one percentile_disc aggregate, broadcast back; no ntile."""
    from rsbsa_etl_spark.operators.analytics import quantile_bucketize as _qb

    return _qb(load(spark, sf_dir, "lineitem"))


def stream_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming exactly-N reservoir (foreachBatch hash-min merge);
    final state == the batch sample_fixed_n, oracle = batch SQL."""
    from rsbsa_etl_spark.streaming.stateful import sample_stream_replay

    return sample_stream_replay(load(spark, sf_dir, "documents"))


def sketch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch mergeability, value-checked: per-source bottom-k
    sketches merged == the direct corpus sketch, exactly."""
    from rsbsa_etl_spark.operators.analytics import kmv_merge_eval

    return kmv_merge_eval(load(spark, sf_dir, "documents"))


def stream_burst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hourly rate bins maintained by the real streaming engine
    (checkpointed, watermarked, sentinel-drained), flagged with the
    same burst_flags as the batch path — oracle = batch SQL, so
    stream/batch equivalence is value-checked."""
    return win.burst_replay(load(spark, sf_dir, "events"))


def novelty_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fraction of each doc's distinct shingles first seen in that
    doc — posting list aggregated, never self-joined."""
    return dedup.novelty_scores(load(spark, sf_dir, "documents"))


def sample_fixed_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exactly-N sample by smallest salted hash (distributed top-N,
    no global sort)."""
    from rsbsa_etl_spark.functions import curation

    return curation.fixed_n_sample(load(spark, sf_dir, "documents"))


def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """weighted multinomial draws (with replacement, P ∝ n_chars) via
    an integer prefix-sum weight line — the mixture-assembly
    primitive; bit-exact (no transcendental reservoir keys)."""
    from rsbsa_etl_spark.functions import curation

    return curation.weighted_sample(load(spark, sf_dir, "documents"))


def tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-language tokenizer fertility (subwords/word) and
    chars-per-token — the multilingual token-budget diagnostic; one
    scan + one language-keyed aggregate."""
    from rsbsa_etl_spark.functions.textstats import (
        tokenizer_fertility as _tf,
    )

    return _tf(load(spark, sf_dir, "documents"))


def tokenizer_fertility_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-language fertility under the TRAINED 3-merge BPE tokenizer
    (the bpe_train/bpe_segment loop) — replaces the ceil(len/4)
    estimate of ``tokenizer_fertility`` with learned subword counts;
    vocabulary-sized training, one corpus scan + lang-keyed agg."""
    from rsbsa_etl_spark.functions.textstats import (
        tokenizer_fertility_bpe as _tfb,
    )

    return _tfb(load(spark, sf_dir, "documents"))


def text_strip_markup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML/markup stripping over deterministically synthesized
    tag-soup (the pii_redact convention): tag removal, entity
    decode, whitespace collapse, retained-text ratio — pure narrow
    codegen map."""
    from rsbsa_etl_spark.functions.curation import strip_markup

    return strip_markup(load(spark, sf_dir, "documents"))


def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exactly-K stratified sample: largest-remainder (Hamilton)
    per-stratum allocation + per-stratum smallest-salted-hash
    membership — integer-exact apportionment, no binomial jitter."""
    from rsbsa_etl_spark.functions import curation

    return curation.stratified_sample(load(spark, sf_dir, "documents"))


def sample_stratified_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rate-based per-stratum downsampling (the exactly-K sampler's
    companion — reproducible RATE thinning instead of a quota): each
    stratum keeps a configured percent by salted md5 bucket of the
    row id, so membership is a pure function of (salt, id) —
    re-runnable, engine-portable, and joinable across tables keyed
    by the same id. Pure column expressions, zero shuffle."""
    from rsbsa_etl_spark.functions import textstats

    return textstats.stratified_sample(load(spark, sf_dir, "events"))


def mix_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """epoch-capped training-mixture allocation: temperature-α=0.5
    integer weights, proportional shares capped at MIX_MAX_EPOCHS
    epochs per source, leftover waterfilled greedily by weight —
    one corpus scan, then G-row arithmetic."""
    from rsbsa_etl_spark.functions import curation

    return curation.mix_epochs(load(spark, sf_dir, "documents"))


def burst_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hourly event-rate bins flagged against their trailing 24h mean
    (integer arithmetic, RANGE frame over epoch-hour)."""
    from rsbsa_etl_spark.operators.analytics import burst_detect as _bd

    return _bd(load(spark, sf_dir, "events"))


def compact_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """streaming bin-fill compaction plan over the documents manifest
    (source = storage partition, n_chars = file size)."""
    from rsbsa_etl_spark.sources.sinks import compaction_plan

    return compaction_plan(
        load(spark, sf_dir, "documents").select("source", "doc_id", "n_chars"),
        target=P.COMPACT_TARGET,
    )


def quality_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-language adaptive quality cutoff from the score histogram
    (CCNet-style), never ranking the corpus itself."""
    from rsbsa_etl_spark.functions import curation

    return curation.adaptive_quality_filter(load(spark, sf_dir, "documents"))


def dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sub-document (paragraph-level) corpus dedup: keep the first
    occurrence of each 16-token segment corpus-wide."""
    from rsbsa_etl_spark.functions import curation

    return curation.segment_dedup_stats(load(spark, sf_dir, "documents"))


def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank-family window functions (ntile / percent_rank /
    cume_dist) per event_type; sort key includes event_id so ranks
    are total-order deterministic."""
    ev = load(spark, sf_dir, "events")
    # asc_nulls_last pins the rank of NULL values to DuckDB's
    # default null ordering (Spark ASC puts NULLs first) — the
    # fixture is null-free, so ranks are unchanged there
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_last(), "event_id"
    )
    return ev.select(
        "event_id",
        "event_type",
        F.ntile(4).over(w).alias("quartile"),
        dec_round(F.percent_rank().over(w), 6).alias("pr"),
        dec_round(F.cume_dist().over(w), 6).alias("cd"),
    )


def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value-navigation window functions (first_value / last_value /
    nth_value) over an explicit whole-partition ROWS frame — the
    default RANGE-to-current-row frame makes last_value a footgun in
    every engine, so the frame is pinned and the sort is tie-broken.
    One window exchange serves all three."""
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        dec_round(F.first_value("value").over(w), 2).alias("first_v"),
        dec_round(F.last_value("value").over(w), 2).alias("last_v"),
        dec_round(F.nth_value("value", 3).over(w), 2).alias("third_v"),
    )


def join_temporal_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 point-in-time lookup: each click event joins the
    purchase-derived dimension version whose [valid_from, valid_to)
    interval contains the click timestamp — the warehouse-standard
    "dimension as of event time" join, complementing ``join_asof``
    (which is the union+window form over two event streams).

    Scale shape: ONE equi-shuffle on user_id co-partitions fact and
    versioned dim; the interval containment is then a narrow filter
    inside the join — never a theta join. Intervals are disjoint per
    user by construction (lead() windows), so each fact row matches
    at most one version and the result is deterministic."""
    from rsbsa_etl_spark.operators.analytics import scd2_intervals as _scd2

    ev = load(spark, sf_dir, "events")
    dim = _scd2(ev.where(F.col("event_type") == "purchase")).select(
        F.col("user_id").alias("u"), "attr", "valid_from_us", "valid_to_us"
    )
    fact = ev.where(F.col("event_type") == "click").select(
        "event_id", "user_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    j = fact.join(
        dim,
        (fact.user_id == dim.u)
        & (F.col("ts_us") >= F.col("valid_from_us"))
        & (F.col("valid_to_us").isNull() | (F.col("ts_us") < F.col("valid_to_us"))),
    )
    return j.select("event_id", "user_id", "attr", "valid_from_us")


def agg_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hypertable-style time-hierarchy rollup: hour-level, day-level,
    and grand totals in one ROLLUP pass (integer epoch buckets keep
    the hierarchy portable across engines); one Expand + one shuffle
    regardless of how many levels the hierarchy has."""
    ev = load(spark, sf_dir, "events")
    secs = F.unix_seconds(F.col("ts"))
    return (
        ev.select(
            F.floor(secs / 86400).alias("day_b"),
            F.floor(secs / 3600).alias("hour_b"),
            "value",
        )
        .rollup("day_b", "hour_b")
        .agg(
            F.count("*").alias("n_events"),
            fixed_sum(F.col("value"), 2, "sum_value"),
        )
        .select(
            F.coalesce("day_b", F.lit(-1)).alias("day_b"),
            F.coalesce("hour_b", F.lit(-1)).alias("hour_b"),
            "n_events",
            "sum_value",
        )
    )


def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """grid-bucketed spatial radius join (Sedona-style): supplier
    query points × customer points within an exact integer Euclidean
    radius; the big side gets one cell key, the small side
    replicates 9× and broadcasts."""
    from rsbsa_etl_spark.functions import spatial

    return spatial.radius_pairs(
        load(spark, sf_dir, "customer"), load(spark, sf_dir, "supplier")
    )


def validate_domains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """single-pass declarative data-quality audit (ENUM-domain,
    range, null, uniqueness rules → violations per rule)."""
    return filters.domain_audit(load(spark, sf_dir, "events"))


def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explicit GROUPING SETS (the rollup/cube generalization):
    per-flag totals, per-status totals, and the grand total in one
    pass — Spark expands to a single shuffle-once Expand+hash-agg."""
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("gs_lineitem")
    return spark.sql(
        f"""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
               count(*) AS n_rows
        FROM gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.functions.curation import curation_pipeline as _cp

    return _cp(load(spark, sf_dir, "documents"))


def dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023): hashed-unigram
    target-vs-raw probability ratios, transcendental-free — the
    reweight-raw-toward-target data-selection signal."""
    from rsbsa_etl_spark.functions.curation import dsir_weights as _d

    return _d(load(spark, sf_dir, "documents"))


def dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling: keep each doc with probability
    min(1, weight/ref) by salted hash — deterministic, batch-
    independent membership; the second half of the DSIR recipe."""
    from rsbsa_etl_spark.functions.curation import dsir_resample as _r

    return _r(load(spark, sf_dir, "documents"))


def rocchio_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nearest-centroid (Rocchio) hashed bag-of-words classifier,
    trained on the corpus's own lang labels and evaluated per doc —
    the trained counterpart of the rule-based lang_id."""
    return textstats.rocchio_classify(load(spark, sf_dir, "documents"))


def mix_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.functions.curation import interleave_sources

    return interleave_sources(load(spark, sf_dir, "documents"))

# star-import surface (r13 ADVICE): export ONLY this family's own
# public wrappers — without this, `from families.x import *` in the
# registry re-binds every helper import (F, P, load, operator
# modules) into the registry namespace, and a same-named wrapper in
# two families would silently shadow. Computed, so it cannot drift
# from the module's actual wrapper set (the registration guard in
# tests/test_sweep_rotation.py covers the registry side; the
# collision guard covers cross-family shadowing).
__all__ = sorted(
    _n
    for _n, _f in list(globals().items())
    if callable(_f)
    and getattr(_f, "__module__", "") == __name__
    and not _n.startswith("_")
)
