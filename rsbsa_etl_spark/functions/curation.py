"""Training-data curation operators (extension surface).

The corpus-preparation steps a large-scale LLM data pipeline runs
between raw crawl and tokenizer: repetition-based quality filtering
(the Gopher/MassiveText rules), benchmark decontamination (n-gram
overlap against an eval set), concat-then-chunk sequence packing,
PII redaction, and temperature-based source rebalancing.

The reference (djacob0/RSBSA-etl) has no text pipeline — its closest
analog is the per-table field-transform registry
(``services/etlService.js:148-201``), which these operators
generalize from "uppercase these columns" to corpus-level document
transforms. Everything here is built to the repo's cross-engine
determinism discipline: integer or fixed-point outputs, md5-derived
pseudo-randomness, and only correctly-rounded float ops (sqrt,
division) ahead of a floor().

Scale notes are per-function; the common theme is that every
operator is a narrow map or a single keyed shuffle — nothing holds
corpus-level state on the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from rsbsa_etl_spark import params as P
from rsbsa_etl_spark.functions.dedup import shingle_rows, tokens_col
from rsbsa_etl_spark.functions.numeric import dec_round, hex_bigint, salted_pri

# ------------------------------------------------------- repetition scoring


def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Gopher-style repetition metrics per document: token count,
    distinct-token fraction, most-frequent-token fraction, and
    duplicate-2-gram fraction. Downstream filters drop documents
    whose fractions cross fixed thresholds (boilerplate, keyword
    stuffing, template spam).

    Plan shape: one explode + two-level hash aggregation, both with
    map-side partial aggregation — (doc_id, token) counts first,
    then per-doc max/sum — so the shuffle carries one row per
    distinct (doc, token), not one per token occurrence. The n-gram
    distinctness terms stay entirely narrow (array ops per row, no
    shuffle). At 100 TB both aggs key on doc_id and scale linearly
    with executors; no skew risk because a single document bounds a
    group.
    """
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    grams2 = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(1)),
            lambda i: F.array_join(F.slice(toks, i, 2), " "),
        ),
    ).otherwise(F.array())

    base = docs.select(
        "doc_id",
        F.explode(toks).alias("tok"),
    )
    per_tok = base.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    freq = per_tok.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_count"),
    )
    narrow = docs.select(
        "doc_id",
        F.size(grams2).alias("n_2grams"),
        F.size(F.array_distinct(grams2)).alias("n_distinct_2grams"),
    )
    return (
        freq.join(narrow, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            dec_round(F.col("n_distinct") / F.col("n_tokens"), 6).alias(
                "distinct_frac"
            ),
            dec_round(F.col("top_count") / F.col("n_tokens"), 6).alias(
                "top_token_frac"
            ),
            dec_round(
                F.when(
                    F.col("n_2grams") > 0,
                    (F.col("n_2grams") - F.col("n_distinct_2grams"))
                    / F.col("n_2grams"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_2gram_frac"),
        )
    )


# ---------------------------------------------------------- decontamination


def decontam_overlap(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Benchmark decontamination: for every training document, the
    count and fraction of its k-word shingles that also appear in
    the eval set (docs with ``doc_id < P.EVAL_DOC_MAX`` stand in for
    a held-out benchmark). The GPT-3/Pile n-gram-overlap
    decontamination check, as a DataFrame op.

    Plan shape: the eval shingle set is distinct-ed (small — eval
    sets are thousands of examples, not billions) and broadcast; the
    training side streams through a broadcast LEFT SEMI-style probe
    (left join + null check keeps the per-gram hit bit) and
    re-aggregates per doc_id. Two map-side-combinable aggs, zero
    large shuffles. At 100 TB the eval set still fits in a broadcast
    (or a bloom filter of it does); the training scan stays a single
    pass.
    """
    grams = shingle_rows(docs, text_col).where(F.col("doc_id") >= P.EVAL_DOC_MAX)
    eval_grams = (
        shingle_rows(docs.where(F.col("doc_id") < P.EVAL_DOC_MAX), text_col)
        .select("shingle")
        .distinct()
    )
    hit = grams.join(
        F.broadcast(eval_grams.withColumn("hit", F.lit(1))), "shingle", "left"
    )
    return (
        hit.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hit"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_hit",
            dec_round(F.col("n_hit") / F.col("n_shingles"), 6).alias("hit_frac"),
            (F.col("n_hit") * 100 >= F.col("n_shingles") * P.DECONTAM_PCT).alias(
                "contaminated"
            ),
        )
    )


# -------------------------------------------------------- sequence packing



def decontam_embedding(emb: DataFrame) -> DataFrame:
    """Benchmark decontamination, EMBEDDING arm (round 12 —
    completing the trio with ``decontam_overlap``'s n-gram check and
    ``decontam_fuzzy``'s near-match check): for every training
    vector, the maximum cosine to any eval-set vector (the same
    ``vec_id < P.EVAL_DOC_MAX`` held-out convention), flagged
    contaminated at ``P.COSINE_THRESHOLD`` — the semantic-leak
    screen n-gram overlap cannot see (a paraphrased eval example
    shares no shingles but sits next to it in embedding space).

    Output: (doc_id, max_cos, contaminated) — one row per training
    vector; ``contaminated`` coalesces to FALSE when every cosine is
    NULL (a zero-norm embedding), identically in both engines.

    Plan shape: the eval side is broadcast (eval sets are thousands
    of rows, not billions — the same bound ``decontam_overlap``
    rides) against ONE training scan; cosine is the sequential-fold
    expression, the per-doc max is a map-side-combining aggregate.
    Zero large shuffles; at 100 TB the training side remains a
    single pass. Mirrors the exact bipartite semantics of
    ``similarity.cosine_pairs_bipartite`` at the dedup_embedding
    quantization (1e-4), expressed in pure codegen because the
    broadcast side is benchmark-bounded — no tiling needed.
    """
    from rsbsa_etl_spark.functions.similarity import dot, safe_div, with_norm

    e = with_norm(emb)
    ev = e.where(F.col("vec_id") < P.EVAL_DOC_MAX).select(
        F.col("_vd").alias("ve"), F.col("_norm").alias("ne")
    )
    tr = e.where(F.col("vec_id") >= P.EVAL_DOC_MAX).select(
        F.col("vec_id").alias("doc_id"),
        F.col("_vd").alias("vt"),
        F.col("_norm").alias("nt"),
    )
    cos = dec_round(
        safe_div(dot(F.col("vt"), F.col("ve")), F.col("nt") * F.col("ne")), 4
    )
    scored = tr.join(F.broadcast(ev)).select("doc_id", cos.alias("cos"))
    return scored.groupBy("doc_id").agg(
        F.max("cos").alias("max_cos"),
        F.coalesce(
            F.max("cos") >= F.lit(P.COSINE_THRESHOLD), F.lit(False)
        ).alias("contaminated"),
    )

def pack_sequences(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Concat-then-chunk sequence packing: documents are concatenated
    in (source, doc_id) order into a token stream per source shard
    and cut into fixed ``P.PACK_CAPACITY``-token blocks; each doc
    reports its stream offset and the block range it lands in. This
    is the standard LM pretraining layout (GPT-2 onward): no padding
    waste, documents may straddle block boundaries.

    Plan shape: token counting is narrow; the running offset is one
    window shuffle partitioned by ``source`` — the shard is the unit
    of parallelism, exactly how packing is run in production (per
    input shard, never a global sequence). A global pack order would
    serialize on one partition at 100 TB; per-shard streams are
    embarrassingly parallel and reproducible (deterministic order
    key)."""
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cap = P.PACK_CAPACITY
    sized = docs.select(
        "doc_id", "source", F.size(tokens_col(F.col(text_col))).alias("n_tokens")
    )
    return (
        sized.withColumn("start_off", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "start_off",
            F.floor(F.col("start_off") / cap).alias("first_block"),
            F.floor((F.col("start_off") + F.col("n_tokens") - 1) / cap).alias(
                "last_block"
            ),
        )
    )


# ------------------------------------------------------------ PII redaction


#: synthesized contact line per customer — the fixture has no PII
#: columns, so both engines build identical PII-bearing text from
#: the key (an email and a PH-format mobile number), then the
#: operator under test redacts it. Patterns restricted to syntax
#: with identical semantics in Java regex and RE2/DuckDB.
PII_EMAIL_RE = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}"
PII_PHONE_RE = r"\+63-9[0-9]{2}-[0-9]{3}-[0-9]{4}"


def _contact_text() -> Column:
    key = F.col("c_custkey")
    return F.concat(
        F.lit("reach "),
        F.lower(F.col("c_name")),
        F.lit(" at user"),
        key.cast("string"),
        F.lit("@example.com or +63-9"),
        F.format_string(
            "%02d-%03d-%04d",
            (key % 100).cast("int"),
            (key % 1000).cast("int"),
            (key % 10000).cast("int"),
        ),
        F.lit(" re: account"),
    )


def pii_redact(customers: DataFrame) -> DataFrame:
    """PII redaction pass: replace emails and phone numbers with
    typed placeholder tags and count what was removed — the
    pre-training scrub every public-corpus pipeline runs (C4,
    RefinedWeb, Dolma all ship regex-tier PII handling).

    Plan shape: pure narrow map — two regexp_replace + two
    regexp_extract_all per row, whole-stage-codegen'd JVM regex, no
    shuffle, no Python. At 100 TB this is scan-bound; the regexes
    are RE2-safe (no backtracking blowup) so worst-case rows can't
    stall an executor."""
    text = _contact_text()
    redacted = F.regexp_replace(
        F.regexp_replace(text, PII_EMAIL_RE, "[EMAIL]"), PII_PHONE_RE, "[PHONE]"
    )
    return customers.select(
        "c_custkey",
        redacted.alias("redacted"),
        F.size(F.regexp_extract_all(text, F.lit(PII_EMAIL_RE), F.lit(0))).alias(
            "n_emails"
        ),
        F.size(F.regexp_extract_all(text, F.lit(PII_PHONE_RE), F.lit(0))).alias(
            "n_phones"
        ),
    )


# ------------------------------------------- temperature source sampling


def temperature_sample(docs: DataFrame) -> DataFrame:
    """Temperature-based source rebalancing (alpha = 0.5): domain d
    with ``c_d`` documents keeps each doc with probability
    ``min(1, K/sqrt(c_d))`` — small domains are kept whole, large
    domains downsampled toward ``sqrt``-proportional mixing. This is
    the multinomial temperature reweighting of XLM-R / data-mixing
    recipes, made deterministic: the keep decision hashes doc_id
    (md5 → first 8 hex digits → 32-bit integer) against a per-domain
    integer threshold ``floor(K·2^32/sqrt(c_d))``.

    Domains are synthesized as ``floor(log2(doc_id+1))`` via
    ``length(bin(x))-1`` (exponentially sized groups — real corpora
    are power-law), because the fixture's ``source`` column is
    deliberately uniform.

    Determinism across engines: sqrt and division are
    correctly-rounded IEEE ops, so the threshold floor() is
    bit-identical in Spark and DuckDB; the hash compare is pure
    integer. Plan shape: one tiny domain-count agg (broadcast back),
    then a narrow filter — the sample itself never shuffles. At
    100 TB the domain table is thousands of rows; the per-row cost
    is one md5."""
    domained = docs.withColumn(
        "domain", (F.length(F.bin(F.col("doc_id") + 1)) - 1).cast("bigint")
    )
    counts = domained.groupBy("domain").agg(F.count("*").alias("c_d"))
    thr = counts.withColumn(
        "keep_below",
        F.floor(F.lit(float(P.SAMPLE_K) * 4294967296.0) / F.sqrt(F.col("c_d"))),
    )
    hashed = domained.withColumn(
        "u32", hex_bigint(F.md5(F.col("doc_id").cast("string")))
    )
    return (
        hashed.join(F.broadcast(thr), "domain")
        .where(F.col("u32") < F.col("keep_below"))
        .select("doc_id", "domain", "c_d", "source")
    )


def token_budget_sample(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Budget-bounded corpus sampling: hash-shuffle the documents
    into a deterministic random order, then take documents until the
    running token total reaches ``P.TOKEN_BUDGET`` — the "give me a
    10 B-token subsample of this 10 T-token corpus" primitive of
    training-data mixing, where the quota is tokens, not documents.

    The running total is the scale hazard: a naive
    ``SUM() OVER (ORDER BY pri)`` is ONE unpartitioned window task —
    a single executor sorting the whole corpus. This implements the
    classic two-pass distributed prefix sum instead, expressible
    entirely in DataFrame ops because the bucket key is the
    priority's own top bits (``bucket = pri >> 26``), making
    (bucket, pri) order identical to global pri order:

    1. intra-bucket running sums — 64 parallel window partitions,
       each a range-partitioned slice of the hash space;
    2. per-bucket totals (64 rows) → tiny cumulative offset table,
       broadcast back and added to the intra-bucket sums.

    The result is bit-equal to the global window the DuckDB oracle
    runs, while the biggest single task holds ~1/64 of the corpus
    (raise the bucket count with corpus size; it only has to beat
    the budget's selectivity, not the corpus).

    Determinism: priority is the salted md5 of doc_id (32-bit), ties
    broken by doc_id; token counts are whitespace counts of
    normalized text — all integer arithmetic.
    """
    pri = salted_pri("tb1", F.col("doc_id"))
    shift = 1 << P.BUDGET_BUCKET_SHIFT
    # NULL text has no tokens and must not consume budget positions
    # (size(NULL) diverges between engines)
    base = docs.where(F.col(text_col).isNotNull()).select(
        "doc_id",
        F.size(tokens_col(F.col(text_col))).cast("long").alias("n_tokens"),
        pri.alias("pri"),
        F.floor(pri / shift).cast("long").alias("bucket"),
    )
    intra_w = (
        Window.partitionBy("bucket")
        .orderBy("pri", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # persisted: the windowed table feeds both the final filter and
    # the bucket-totals aggregate below — without it the scan +
    # tokenize + window run twice. Bucket totals come from the
    # window's own last row (max cumulative) rather than a second
    # pass over base, so the corpus is read exactly once.
    intra = base.withColumn(
        "intra_cum", F.sum("n_tokens").over(intra_w)
    ).persist()
    btot = intra.groupBy("bucket").agg(F.max("intra_cum").alias("b_tokens"))
    offset_w = (
        Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    offsets = btot.select(
        "bucket",
        (F.sum("b_tokens").over(offset_w) - F.col("b_tokens")).alias("offset"),
    )
    return (
        intra.join(F.broadcast(offsets), "bucket")
        .withColumn("cum_tokens", (F.col("offset") + F.col("intra_cum")).cast("long"))
        .where(F.col("cum_tokens") <= P.TOKEN_BUDGET)
        .select("doc_id", "n_tokens", "cum_tokens")
    )


def weighted_sample(
    docs: DataFrame,
    weight_col: str = "n_chars",
    k: int | None = None,
) -> DataFrame:
    """Weighted multinomial corpus sampling: ``k`` draws WITH
    replacement, P(doc) ∝ weight — the mixture-assembly primitive
    ("draw the next training document proportional to source weight /
    length") that rounds out the sampling family
    (``sample_temperature`` rebalances, ``sample_fixed_n`` counts,
    ``sample_token_budget`` meters tokens; this one draws from the
    weight distribution itself).

    Why not A-ExpJ/A-Res weighted reservoirs: their keys are
    ``u^(1/w)`` / ``-ln(u)/w`` — exp/log/pow transcendentals whose
    low bits differ across libm implementations, so a reservoir
    boundary can flip between engines and the result is not
    oracle-checkable bit-for-bit. The multinomial form is INTEGER
    end to end: a distributed prefix sum lays every doc's weight as
    the interval ``[hi−w, hi)`` on the 0..W line (hash-shuffled
    order — with-replacement draws are order-free, and the hash
    order reuses ``token_budget_sample``'s bucket decomposition:
    64 parallel intra-bucket windows + a broadcast 64-row offset
    table, never ONE global window task), and draw ``j`` lands at
    ``hash60('wsm'|j) mod W``. Sixty-bit draw hashes keep the mod
    unbiased-enough (W ≤ 2^40 even at petabyte corpora of
    byte-weights) and inside BIGINT exactly in both engines.

    The k-row draw table is broadcast against the interval table —
    the containment join is a broadcast NLJ over n·k comparisons,
    linear in the corpus for fixed k. Output one row per draw
    (draw_id, doc_id, weight) — duplicates across draws are the
    with-replacement semantics.
    """
    kk = P.WSAMPLE_DRAWS if k is None else k
    spark = docs.sparkSession
    pri = salted_pri("ws1", F.col("doc_id"))
    shift = 1 << P.BUDGET_BUCKET_SHIFT
    base = docs.where(
        F.col(weight_col).isNotNull() & (F.col(weight_col) > 0)
    ).select(
        "doc_id",
        F.col(weight_col).cast("long").alias("w"),
        pri.alias("pri"),
        F.floor(pri / shift).cast("long").alias("bucket"),
    )
    intra_w = (
        Window.partitionBy("bucket")
        .orderBy("pri", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    intra = base.withColumn("intra_cum", F.sum("w").over(intra_w)).persist()
    btot = intra.groupBy("bucket").agg(F.max("intra_cum").alias("b_w"))
    offset_w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = btot.select(
        "bucket",
        (F.sum("b_w").over(offset_w) - F.col("b_w")).alias("offset"),
    )
    intervals = intra.join(F.broadcast(offsets), "bucket").select(
        "doc_id",
        "w",
        (F.col("offset") + F.col("intra_cum")).cast("long").alias("hi"),
    )
    # total weight from the 64-row bucket totals (NOT max(hi) over
    # intervals — that would re-reference the offsets window subtree
    # and double it in the plan)
    total = btot.agg(F.sum("b_w").cast("long").alias("W"))
    draws = (
        spark.range(kk)
        .select(
            F.col("id").alias("draw_id"),
            hex_bigint(
                F.md5(F.concat_ws("|", F.lit("wsm"), F.col("id").cast("string"))),
                ndigits=15,
            ).alias("h60"),
        )
        .join(F.broadcast(total))
        .select("draw_id", F.pmod(F.col("h60"), F.col("W")).alias("u"))
    )
    return (
        intervals.join(
            F.broadcast(draws),
            (F.col("u") >= F.col("hi") - F.col("w")) & (F.col("u") < F.col("hi")),
        )
        .select("draw_id", "doc_id", F.col("w").alias("weight"))
    )


def strip_markup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """HTML/markup stripping — the first cleaning pass every
    web-corpus pipeline runs (C4/RefinedWeb/Dolma all start from
    tag-soup): remove tags, decode the common entities, collapse
    whitespace, and report how much text survived.

    The fixture has no HTML, so the markup is SYNTHESIZED
    deterministically around each document (title tag from the
    source, body paragraph, a boilerplate nav div, entities) — the
    ``pii_redact`` convention: both engines build the identical
    dirty input from the same columns, then the operator under test
    cleans it. The tag regex ``<[^>]*>`` has identical semantics in
    Java regex and DuckDB RE2; entity decoding is literal
    ``replace``; ``retained_milli`` is an exact integer ratio.

    Plan: pure narrow map — regexp/replace chains in whole-stage
    codegen, no shuffle, no Python; scan-bound at any scale (the
    pii_redact profile).
    """
    dirty = F.concat(
        F.lit("<html><body><h1>"),
        F.col("source"),
        F.lit("</h1><p>"),
        F.col(text_col),
        F.lit(" &amp; more &lt;soon&gt;</p>"),
        F.lit('<div class="nav">home | about | login</div></body></html>'),
    )
    stripped = F.regexp_replace(dirty, r"<[^>]*>", " ")
    decoded = F.replace(
        F.replace(
            F.replace(stripped, F.lit("&amp;"), F.lit("&")),
            F.lit("&lt;"),
            F.lit("<"),
        ),
        F.lit("&gt;"),
        F.lit(">"),
    )
    clean = F.trim(F.regexp_replace(decoded, r"\s+", " "))
    # lengths promoted to BIGINT before the ×1000: F.length is 32-bit,
    # so a >2.1M-char document (realistic in a web corpus) would
    # overflow under ANSI; the DuckDB oracle is already BIGINT here
    return docs.where(F.col(text_col).isNotNull()).select(
        "doc_id",
        clean.alias("clean_text"),
        F.floor(
            F.length(clean).cast("long") * 1000
            / F.greatest(F.length(dirty).cast("long"), F.lit(1))
        )
        .cast("long")
        .alias("retained_milli"),
    )


def stratified_sample(
    docs: DataFrame, k: int | None = None, stratum_col: str = "lang"
) -> DataFrame:
    """exactly-K stratified sample with largest-remainder (Hamilton)
    allocation: each stratum contributes its proportional integer
    share ``floor(K·n_g/N)``, and the K − Σfloor leftover seats go to
    the strata with the largest integer remainders (tie: stratum asc)
    — the apportionment method that makes "sample 120 docs, keep the
    language mix" exact instead of binomially jittered per stratum.
    Within a stratum, membership is the ``alloc_g`` smallest salted
    doc-id hashes (deterministic, reproducible, joinable — the
    ``fixed_n_sample`` reservoir per stratum).

    All allocation arithmetic is BIGINT (K·n_g ≤ 2^40 at any
    realistic stratum count), so the allocation — and therefore the
    sample — is engine-exact.

    Plan shape: one map-side-combining stratum count (G rows), the
    Hamilton ranking as a window over that G-row aggregate
    (bounded-by-domain, the 64-bucket-offsets pattern), allocations
    broadcast back onto one per-stratum rank window over the corpus.
    At 100 TB the rank window is the only corpus-sized shuffle; its
    input can be pre-cut per partition because membership needs only
    each stratum's alloc_g ≤ K smallest hashes (the WindowGroupLimit
    partial-rank lesson in SCALING.md — here the limit is a column,
    so the static rewrite does not fire, but K bounds it and a
    literal ``rn <= K`` conjunct keeps the filter selective).
    """
    kk = P.STRAT_SAMPLE_K if k is None else k
    g = F.col(stratum_col)
    # NULL strata are excluded up front: a NULL stratum would absorb
    # allocation seats that can never emit (the equi-join below drops
    # NULL keys), silently yielding < K rows — and Spark's asc() is
    # NULLS FIRST while the oracle's ORDER BY defaults NULLS LAST, so
    # a NULL tying on remainder would also break engine lockstep.
    docs = docs.where(g.isNotNull())
    counts = docs.groupBy(stratum_col).agg(F.count("*").alias("n_g"))
    # N folds out of the counts as a full-frame window instead of a
    # separate aggregate+join — that form re-scanned the corpus a
    # third time (Catalyst does not dedupe the shared counts subtree)
    wsum = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    n_tot = F.sum("n_g").over(wsum)
    scored = counts.select(
        stratum_col,
        "n_g",
        F.floor(F.lit(kk) * F.col("n_g") / n_tot).alias("base"),
        (F.lit(kk) * F.col("n_g") % n_tot).alias("rem"),
    )
    wrem = Window.orderBy(F.col("rem").desc(), g.asc_nulls_last())
    alloc = scored.select(
        stratum_col,
        "n_g",
        (
            F.col("base")
            + (
                F.row_number().over(wrem)
                <= F.lit(kk) - F.sum("base").over(wsum)
            ).cast("long")
        ).alias("alloc"),
    )
    pri = salted_pri("st1", F.col("doc_id"))
    wr = Window.partitionBy(stratum_col).orderBy(pri.asc(), F.col("doc_id").asc())
    return (
        docs.select("doc_id", stratum_col)
        .withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") <= F.lit(kk))
        .join(F.broadcast(alloc), stratum_col)
        .where(F.col("rn") <= F.col("alloc"))
        .select("doc_id", stratum_col, "n_g", "alloc")
    )


def mix_epochs(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """epoch-capped training-mixture allocation: given a token budget
    of ``MIX_BUDGET_NUM/DEN`` × the corpus (1.5× here) and a hard
    per-source repetition cap of ``MIX_MAX_EPOCHS`` (the
    data-constrained-LM guidance: repeating a source beyond a few
    epochs stops paying), allocate the budget across sources by
    temperature-α=0.5 weights — ``w_g = floor(sqrt(T_g)·SCALE)``,
    flattening the source-size distribution exactly like
    ``temperature_sample`` flattens keep probabilities — then:

    1. proportional integer shares ``floor(B·w_g/Σw)``, capped at
       ``cap_g = E·T_g``;
    2. the leftover is poured greedily into remaining headroom in
       (weight desc, source asc) order — a deterministic one-pass
       waterfill that exhausts the budget exactly (always feasible:
       B = 1.5·T ≤ ΣCap = 2·T).

    Output per source: (source, n_tokens, weight, cap, alloc,
    epochs_milli = floor(alloc·1000/T_g)) — the sampling table a
    training launcher consumes.

    Determinism: sqrt is correctly-rounded IEEE (engine-stable, the
    temperature_sample precedent); everything else is BIGINT. The
    B·w products stay under 2^63 through petabyte-scale token counts
    with SCALE=1000 weights; the allocation table itself is
    G ≈ sources rows, so a >2^63 deployment recomputes it in
    DECIMAL(38) without touching the corpus pass.

    Plan shape: ONE corpus scan (map-side-combining per-source token
    sum); every subsequent step is windows/joins over the G-row
    aggregate — bounded by the source domain, never by the data.
    """
    toks = F.size(tokens_col(F.col(text_col))).cast("long")
    t = (
        docs.where(F.col(text_col).isNotNull())
        .groupBy("source")
        .agg(F.sum(toks).alias("n_tokens"))
        .where(F.col("n_tokens") > 0)
    )
    w = F.floor(F.sqrt(F.col("n_tokens")) * P.MIX_WEIGHT_SCALE).cast("long")
    base = t.select(
        "source",
        "n_tokens",
        w.alias("weight"),
        (F.lit(P.MIX_MAX_EPOCHS) * F.col("n_tokens")).alias("cap"),
    )
    wsum = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    budget = F.floor(
        F.lit(P.MIX_BUDGET_NUM) * F.sum("n_tokens").over(wsum) / P.MIX_BUDGET_DEN
    ).cast("long")
    prop = base.select(
        "*",
        budget.alias("budget"),
        F.least(
            F.col("cap"),
            F.floor(
                budget * F.col("weight") / F.sum("weight").over(wsum)
            ).cast("long"),
        ).alias("alloc1"),
    )
    # greedy headroom fill, (weight desc, source asc): source g takes
    # min(headroom_g, leftover - headroom already taken before it)
    wfill = Window.orderBy(F.col("weight").desc(), F.col("source").asc())
    leftover = (F.col("budget") - F.sum("alloc1").over(wsum)).cast("long")
    head_before = F.coalesce(
        F.sum(F.col("cap") - F.col("alloc1")).over(
            wfill.rowsBetween(Window.unboundedPreceding, -1)
        ),
        F.lit(0),
    ).cast("long")
    fill = F.greatest(
        F.lit(0),
        F.least(F.col("cap") - F.col("alloc1"), leftover - head_before),
    )
    return prop.select(
        "source",
        "n_tokens",
        "weight",
        "cap",
        (F.col("alloc1") + fill).alias("alloc"),
        F.floor((F.col("alloc1") + fill) * 1000 / F.col("n_tokens"))
        .cast("long")
        .alias("epochs_milli"),
    )


def adaptive_quality_filter(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-language adaptive quality thresholding (the CCNet recipe):
    keep the best ``P.QUALITY_KEEP_PCT`` % of each language's
    documents by LM fluency score. One absolute threshold across a
    multilingual corpus is wrong twice over — it empties low-resource
    languages and waves through boilerplate in high-resource ones —
    so the cutoff adapts to each language's own score distribution.

    The scale design avoids ranking the corpus: a naive
    ``row_number() OVER (PARTITION BY lang ORDER BY score)`` puts an
    entire language — half the corpus, for English — into one window
    task. Instead the cutoff comes from the SCORE HISTOGRAM:

    1. group by (lang, score) → counts. Scores are 1e-6-quantized
       (``lm_score``), so the histogram is bounded by distinct score
       values, not document count;
    2. one window over the histogram (descending score, per lang)
       yields cumulative counts — the biggest window partition is a
       language's distinct-score count, ~1e6 rows max regardless of
       corpus size;
    3. a score-group is kept when the cumulative count BEFORE it is
       under the language's quota (integer compare: cum_prev·100 <
       pct·n_lang) — the crossing group is kept whole, so the filter
       keeps at least the quota and is tie-stable (no intra-group
       ordering dependence, hence engine-independent);
    4. broadcast the per-(lang, score) keep flags back onto the
       scored documents — a map-side join against a histogram-sized
       table.

    Returns (doc_id, lang, n_bigrams, avg_transition_p) of kept docs.
    """
    from rsbsa_etl_spark.functions.textstats import lm_score

    # persisted: consumed twice (histogram + final filter join).
    # Without it the whole bigram-LM pipeline — explode + three
    # aggregations — runs twice (measured 8 scans → 4). The table is
    # 4 doc-level columns, disk-spillable at any corpus size.
    scored = lm_score(docs, text_col).join(
        docs.select("doc_id", "lang"), "doc_id"
    ).persist()
    hist = scored.groupBy("lang", "avg_transition_p").agg(
        F.count("*").alias("cnt")
    )
    cum_w = (
        Window.partitionBy("lang")
        .orderBy(F.desc("avg_transition_p"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot_w = Window.partitionBy("lang")
    keep = (
        hist.withColumn("cum", F.sum("cnt").over(cum_w))
        .withColumn("n_lang", F.sum("cnt").over(tot_w))
        .where(
            (F.col("cum") - F.col("cnt")) * 100
            < F.lit(P.QUALITY_KEEP_PCT) * F.col("n_lang")
        )
        .select("lang", "avg_transition_p")
    )
    return scored.join(
        F.broadcast(keep), ["lang", "avg_transition_p"]
    ).select("doc_id", "lang", "n_bigrams", "avg_transition_p")


def fixed_n_sample(docs: DataFrame, n: int | None = None) -> DataFrame:
    """exactly-N deterministic sample: the N documents with the
    smallest salted doc_id hash — the count-bounded sibling of
    ``token_budget_sample`` (held-out eval sets, human-review
    batches, fixed-size probes are specified in documents, not
    tokens).

    Membership is a pure function of (salt, doc_id) — reproducible
    and joinable like ``split_assign`` — but unlike a fractional
    split the sample size is EXACT, which a per-row hash threshold
    cannot give (binomial jitter). Top-N by hash is the reservoir:
    each executor keeps its local N smallest (TakeOrderedAndProject,
    no global sort), the driver merges per-partition heads of size
    ≤ N. Ties are impossible at a fixed corpus (hash collisions
    break on doc_id).
    """
    n = P.SAMPLE_N if n is None else n
    pri = salted_pri("fx1", F.col("doc_id"))
    return (
        docs.select("doc_id", pri.alias("pri"))
        .orderBy("pri", "doc_id")
        .limit(n)
    )


# ------------------------------------------------- sub-document dedup


def segment_dedup_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Paragraph-level (sub-document) corpus dedup, the CCNet/Dolma
    shape: cut each normalized document into non-overlapping
    ``P.SEG_TOKENS``-token segments, keep only the FIRST occurrence
    of each distinct segment corpus-wide (order: doc_id, then
    position), and report per document how much text survives.
    Whole-doc dedup (``dedup_exact``) misses boilerplate shared
    across distinct pages; this is the operator that removes it.

    Plan shape: segmenting is a narrow array expression (no Python);
    first-occurrence is ONE shuffle keyed on the segment text via
    row_number — at 100 TB key on a segment hash instead of the raw
    text to shrink shuffle bytes (same plan). The per-doc rollup
    map-side combines. Deterministic: ties in (doc_id, seg_idx) are
    impossible (that pair is unique), so keep/drop is stable.
    """
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    w = P.SEG_TOKENS
    n_segs = F.ceil(n / F.lit(w)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.struct(
            i.alias("seg_idx"),
            F.array_join(F.slice(toks, i * w + 1, w), " ").alias("seg"),
        ),
    )
    rows = docs.select("doc_id", F.explode(segs).alias("s")).select(
        "doc_id",
        F.col("s.seg_idx").alias("seg_idx"),
        F.col("s.seg").alias("seg"),
    )
    first = F.row_number().over(
        Window.partitionBy("seg").orderBy("doc_id", "seg_idx")
    )
    tagged = rows.withColumn("kept", first == 1)
    return tagged.groupBy("doc_id").agg(
        F.count("*").alias("n_segs"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.sum(
            F.when(F.col("kept"), F.size(F.split(F.col("seg"), " "))).otherwise(0)
        ).alias("n_tokens_kept"),
    )


def priority_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """exact-duplicate resolution with source priority: among rows
    sharing identical normalized text, keep the copy from the most
    trusted source (lowest numeric suffix of ``source``), tiebroken
    by doc_id. The standard "same page crawled by many dumps — keep
    the canonical one" step that runs before any fuzzy dedup.

    Groups on the md5 of normalized text (bounded key width — the
    shuffle never carries document bodies twice), picks the winner
    with a row_number over the tiny per-hash slice. One shuffle on
    the hash; skew-safe because exact-dup cluster sizes are the
    payload, not the key count.
    """
    from rsbsa_etl_spark.functions.dedup import normalized_text

    prio = F.regexp_extract(F.col("source"), r"(\d+)$", 1).cast("int")
    h = F.md5(normalized_text(F.col(text_col)))
    w = Window.partitionBy("content_md5").orderBy(
        F.col("priority").asc(), F.col("doc_id").asc()
    )
    return (
        docs.select(
            "doc_id", "source", h.alias("content_md5"), prio.alias("priority")
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("doc_id", "source", "content_md5", "priority")
    )


def deterministic_shuffle(docs: DataFrame, n_shards: int = 8) -> DataFrame:
    """seeded global shuffle + sharding for training-order
    assignment: every doc gets a pseudorandom-but-reproducible
    (shard, pos) from the md5 of its id — the "shuffle the corpus
    before training" step, without any engine randomness (rand() is
    partition-order-dependent and would break re-runs and the
    oracle).

    The md5 key distributes uniformly, so shards are balanced by
    construction; one hash-partition shuffle on shard, partition-
    local sort for pos. At 100 TB this is exactly the write pattern
    of a sharded training dump: shard = output file, pos = in-file
    order, both reproducible across cluster sizes.
    """
    key = F.md5(F.concat_ws(":", F.lit("seed42"), F.col("doc_id")))
    shard = F.pmod(hex_bigint(key), F.lit(n_shards))
    w = Window.partitionBy("shard").orderBy("sort_key")
    return (
        docs.select(
            "doc_id", key.alias("sort_key"), shard.alias("shard")
        )
        .withColumn("pos", F.row_number().over(w))
        .select("doc_id", "shard", "pos")
    )


def interleave_sources(docs: DataFrame) -> DataFrame:
    """weighted source interleaving — the data-mixing schedule of a
    training pipeline: each source s with weight w(s) contributes its
    n-th document at virtual position (n-1+1/2)/w(s), so a weight-2
    source appears twice as often in the merged order. Emits the
    virtual position (a pure IEEE division — bit-identical in the
    oracle), NOT a global rank: materializing the total order is the
    writer's range-partitioned sort at dump time, never a
    single-partition window here.

    Weights derive deterministically from the source id (1 + suffix
    mod 3, standing in for a mixture config). One shuffle on source
    for the per-source sequence numbers; sources are few, and a
    skewed giant source still sorts only its own partition.
    """
    prio = F.regexp_extract(F.col("source"), r"(\d+)$", 1).cast("long")
    weight = (F.lit(1) + F.pmod(prio, F.lit(3))).cast("double")
    w = Window.partitionBy("source").orderBy("doc_id")
    rn = F.row_number().over(w).cast("double")
    vpos = (rn - F.lit(1.0) + F.lit(0.5)) / weight
    return docs.select("doc_id", "source").withColumn(
        "seq_in_source", rn.cast("long")
    ).withColumn("weight", weight.cast("long")).withColumn(
        "vpos", dec_round(vpos, 6)
    )


def curation_pipeline(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """the composed end-to-end curation chain — quality gate →
    exact dedup → train-split — as ONE lazy plan, demonstrating that
    the operator library composes the way a real training-data
    pipeline uses it (each stage is the same code path as its
    standalone query key).

    Catalyst fuses the whole chain: the quality features and the
    content hash are projections over ONE scan (quality_score passes
    the payload columns through — no join-back-by-id), the dedup is
    a single window shuffle on the hash, the split is a pure
    expression. Plan-asserted: 1 scan, 1 exchange. That composition
    *is* the 100 TB argument: intermediate materialization between
    curation stages is what kills pipelines at scale.
    """
    from rsbsa_etl_spark.functions.dedup import normalized_text
    from rsbsa_etl_spark.functions.textstats import quality_score

    qs = quality_score(docs, text_col, keep=("source", text_col))
    # pushdown barrier (guide §4.4, built-in-expression analog of
    # asNondeterministic): PushPredicateThroughNonJoin substitutes a
    # filtered alias with its whole expression tree, so the quality
    # gate below would otherwise evaluate the ~30-regex feature tree
    # TWICE per row — once in the pushed Filter, once in the Project
    # (measured: 0.74 s one eval vs 2.27 s with the pushed filter at
    # sf0.1). shuffle() on a 1-element array is the identity in value
    # but non-deterministic to the optimizer, which pins the Filter
    # ABOVE the projection: one evaluation, same rows, same hash.
    kept = qs.withColumn(
        "quality", F.shuffle(F.array(F.col("quality")))[0]
    ).where(F.col("quality") >= 0.75)
    hashed = kept.withColumn(
        "content_md5", F.md5(normalized_text(F.col(text_col)))
    )
    w = Window.partitionBy("content_md5").orderBy("doc_id")
    deduped = (
        hashed.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
    )
    bucket = salted_pri("v1", F.col("doc_id")) % 100
    return (
        deduped.withColumn("bucket", bucket.cast("int"))
        .where(F.col("bucket") < 90)
        .select("doc_id", "source", "n_tokens", "quality", "bucket")
    )


def decontam_fuzzy(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = P.DECONTAM_FUZZY_THRESHOLD,
) -> DataFrame:
    """fuzzy benchmark decontamination: flag (eval, train) pairs
    where an eval doc's shingle set is ≥ ``threshold`` CONTAINED in
    a training doc — the robust complement of ``decontam_overlap``:
    exact n-gram overlap misses near-verbatim inclusions that differ
    by small edits, while set containment survives them. Eval docs
    are ``doc_id < P.EVAL_DOC_MAX`` (same convention as
    ``decontam_overlap``).

    EXACT at any scale via bipartite prefix filtering
    (``dedup.prefix_filter_candidates_bipartite``): the 100 TB
    training side is only probed by eval-prefix shingles, never
    self-joined, and candidates provably include every pair at the
    threshold. Verify is the pair-local ``array_intersect``.
    """
    from rsbsa_etl_spark.functions.dedup import (
        _pair_intersections,
        doc_shingle_sets,
        prefix_filter_candidates_bipartite,
    )
    from rsbsa_etl_spark.functions.numeric import dec_round, salted_pri

    sets = doc_shingle_sets(docs, text_col).persist()
    sh = sets.select("doc_id", F.explode("shingles").alias("shingle"))
    sh_eval = sh.where(F.col("doc_id") < P.EVAL_DOC_MAX)
    sh_train = sh.where(F.col("doc_id") >= P.EVAL_DOC_MAX)
    cand = prefix_filter_candidates_bipartite(
        sh_eval, sh_train, threshold, containment=True
    )
    inter = _pair_intersections(sets, cand)
    containment = F.col("inter") / F.col("sz_a")
    return inter.where(containment >= threshold).select(
        F.col("doc_a").alias("eval_doc_id"),
        F.col("doc_b").alias("train_doc_id"),
        dec_round(containment, 4).alias("containment"),
    )


def decontam_report(
    docs: DataFrame, emb: DataFrame, text_col: str = "text"
) -> DataFrame:
    """the decontamination DECISION TABLE — the four verified arms
    composed into one per-training-doc verdict, which is what a
    pipeline actually consumes (the arms are signals; the release
    gate is a per-doc action):

    - n-gram overlap fraction (``decontam_overlap`` — GPT-3/Pile
      check) with its threshold flag;
    - fuzzy containment (``decontam_fuzzy`` — near-verbatim eval
      inclusion surviving small edits), reduced to the per-train-doc
      max;
    - embedding max-cosine (``decontam_embedding`` — the semantic
      leak n-grams cannot see) with its threshold flag;
    - span-leak total (``decontam_spans`` — how many tokens the
      surgical cut would remove).

    Verdict: ``drop`` when any DOC-LEVEL flag fires (the document is
    contaminated as a whole — n-gram fraction, fuzzy containment, or
    embedding similarity over threshold), else ``cut`` when only
    local spans leak (keep the document, excise the spans —
    ``cut_decontam_spans`` performs it), else ``keep``. Universe =
    every training doc (``doc_id >= P.EVAL_DOC_MAX``), including
    docs too short to shingle (NULL arm values, flags coalesced
    false) — absent rows would read as silently-kept docs.

    Scale: each arm is the already-shaped broadcast-eval single
    scan; the report adds four doc-keyed LEFT joins of arm AGGREGATE
    outputs (doc-cardinality each, co-partitioned on doc_id) — no
    new corpus-sized shuffle.
    """
    from rsbsa_etl_spark.functions.dedup import decontam_spans

    base = docs.where(F.col("doc_id") >= P.EVAL_DOC_MAX).select("doc_id")
    ng = decontam_overlap(docs, text_col).select(
        "doc_id",
        "hit_frac",
        F.col("contaminated").alias("c_ngram"),
    )
    fz = (
        decontam_fuzzy(docs, text_col)
        .groupBy(F.col("train_doc_id").alias("doc_id"))
        .agg(F.max("containment").alias("max_containment"))
    )
    em = decontam_embedding(emb).select(
        "doc_id", "max_cos", F.col("contaminated").alias("c_emb")
    )
    sp = decontam_spans(docs, text_col).groupBy("doc_id").agg(
        F.sum("span_tokens").cast("long").alias("leaked_span_tokens")
    )
    j = (
        base.join(ng, "doc_id", "left")
        .join(fz, "doc_id", "left")
        .join(em, "doc_id", "left")
        .join(sp, "doc_id", "left")
        .select(
            "doc_id",
            "hit_frac",
            F.coalesce(F.col("c_ngram"), F.lit(False)).alias(
                "contaminated_ngram"
            ),
            "max_containment",
            F.col("max_containment").isNotNull().alias(
                "contaminated_fuzzy"
            ),
            "max_cos",
            F.coalesce(F.col("c_emb"), F.lit(False)).alias(
                "contaminated_embedding"
            ),
            F.coalesce(F.col("leaked_span_tokens"), F.lit(0))
            .cast("long")
            .alias("leaked_span_tokens"),
        )
    )
    return j.withColumn(
        "verdict",
        F.when(
            F.col("contaminated_ngram")
            | F.col("contaminated_fuzzy")
            | F.col("contaminated_embedding"),
            F.lit("drop"),
        )
        .when(F.col("leaked_span_tokens") > 0, F.lit("cut"))
        .otherwise(F.lit("keep")),
    )


def _chars_bucket() -> Column:
    """the quasi-identifier length generalization shared by BOTH
    privacy audits — k_anonymity and l_diversity refine the same
    group boundaries by definition, so the bucketing lives in
    exactly one place."""
    return (
        F.floor(F.col("n_chars") / F.lit(P.K_ANON_CHARS_BUCKET))
        * F.lit(P.K_ANON_CHARS_BUCKET)
    ).cast("long")


def k_anonymity(docs: DataFrame) -> DataFrame:
    """k-anonymity audit of the corpus's quasi-identifiers — the
    privacy gate a training-data release runs before publishing: any
    (lang, source, generalized-length) combination shared by fewer
    than K documents is a re-identification risk and gets flagged
    for suppression or further generalization. Length is generalized
    by bucketing (the "birth date → birth year" move) so the
    identifier is coarse enough to be useful but still discriminates
    outlier documents.

    One map-side-partial groupBy shuffle over the quasi-identifier
    triple — group-cardinality output, scale-trivial; the flag is an
    integer comparison, the risk share a single exact division.
    """
    bucket = _chars_bucket()
    return (
        docs.select("lang", "source", bucket.alias("chars_bucket"))
        .groupBy("lang", "source", "chars_bucket")
        .agg(F.count("*").alias("n"))
        .select(
            "lang",
            "source",
            "chars_bucket",
            "n",
            (F.col("n") < F.lit(P.K_ANON)).alias("at_risk"),
        )
    )


# ------------------------------------------------- importance reweighting


def dsir_weights(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """DSIR-style importance weights: score every raw document by how
    much its hashed-unigram profile resembles a target domain
    (``lang = DSIR_TARGET_LANG``) relative to the raw corpus — the
    data-selection signal of Xie et al. 2023 ("Data Selection for
    Language Models via Importance Resampling"), whose weights feed
    importance resampling of a 100 TB crawl toward a quality domain.

    Construction (transcendental-free twist on the paper): tokens
    hash into ``DSIR_HASH_DIM`` buckets (the same md5 hex-prefix
    slot scheme as ``feature_hash_vectors``, so collisions are
    engine-identical); each bucket gets a Laplace-smoothed
    probability under the target and under the raw corpus, and their
    RATIO — quantized to 1e-6 fixed point — replaces the paper's
    log-ratio. A document's weight is the token-frequency-weighted
    mean of its buckets' ratios: same monotone "looks like target"
    ordering, but a pure rational function of integer counts, so it
    is bit-reproducible across engines (the repo-wide lm_score
    discipline; log differs at the ulp level between libms).

    Scale: ONE token-scan lineage — the (doc, slot) partial-count
    collapse is the only corpus-sized shuffle, and BOTH bucket
    models re-aggregate from it (64-row aggregates with map-side
    partials; the vocabulary never materializes), so the corpus is
    read twice (model subtree + scoring join), never five times.
    The totals fold out of the 64-row slot table itself (the tiny
    1-row broadcast pattern). Nothing about the plan changes when
    the corpus is 10^6× larger — the model state is a constant 64
    rows; a loop-running caller can persist ``doc_counts``'s
    lineage to make it one physical scan.
    """
    from rsbsa_etl_spark.functions.textstats import hashed_slot_counts

    d = int(P.DSIR_HASH_DIM)
    # per-doc sparse counts: the one corpus-sized shuffle (lang is
    # functionally dependent on doc_id — free to carry); kernel
    # single-sourced with rocchio_classify
    doc_counts = hashed_slot_counts(docs, text_col, d)

    # bucket models: 64-row re-aggregation of doc_counts — not a
    # fresh corpus scan per statistic
    is_tgt = F.col("lang") == F.lit(P.DSIR_TARGET_LANG)
    slots = doc_counts.groupBy("slot").agg(
        F.sum("n").cast("long").alias("c_raw"),
        F.sum(F.when(is_tgt, F.col("n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("c_tgt"),
    )
    # corpus totals as an unpartitioned window over the 64-row slot
    # table (single tiny task) — a separate aggregate subtree would
    # re-run the corpus scan its lineage reaches
    wall = Window.partitionBy()
    model = (
        slots.select(
            "slot",
            "c_raw",
            "c_tgt",
            F.sum("c_raw").over(wall).cast("long").alias("n_raw"),
            F.sum("c_tgt").over(wall).cast("long").alias("n_tgt"),
        )
        .select(
            "slot",
            # smoothed probability ratio, one canonical op order
            # (mirrored verbatim in the oracle): each division is a
            # single correctly-rounded IEEE op on exact integer
            # inputs, the product one more
            (
                (
                    (F.col("c_tgt") + F.lit(0.5))
                    / (F.col("n_tgt") + F.lit(d / 2.0))
                )
                * (
                    (F.col("n_raw") + F.lit(d / 2.0))
                    / (F.col("c_raw") + F.lit(0.5))
                )
            ).alias("ratio"),
        )
        .select(
            "slot",
            F.floor(F.col("ratio") * F.lit(1e6) + F.lit(0.5))
            .cast("long")
            .alias("q_ratio"),
        )
    )

    return (
        doc_counts.join(F.broadcast(model), "slot")
        .groupBy("doc_id")
        .agg(
            F.sum("n").cast("long").alias("n_tokens"),
            dec_round(
                F.sum(F.col("n") * F.col("q_ratio")).cast("double")
                / F.lit(1e6)
                / F.sum("n"),
                6,
            ).alias("dsir_weight"),
        )
    )


def dsir_resample(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """DSIR importance RESAMPLING — the second half of Xie et al.
    2023: turn the importance weights into an actual resampled
    corpus. Each document is kept with probability
    ``min(1, weight / DSIR_RESAMPLE_REF)`` decided by a salted
    32-bit hash of its id, so membership is a pure function of
    (doc_id, weight): reproducible across runs, engines, partition
    layouts, and — because the reference weight is FIXED rather
    than a corpus max — independent of whatever else is in the
    batch, which is what incremental ingest needs (no global
    aggregate, no second pass over the corpus).

    Decision arithmetic is exact integers: with ``q_w`` the 1e-6
    fixed-point weight — CLAMPED to ``q_ref``, which changes
    nothing because ``p = min(1, w/ref)`` accepts every weight ≥
    the reference anyway, and bounds ``2^32 · q_w`` far below 2^63
    even on corpora where the target domain is a vanishing
    fraction and the raw ratio explodes — and ``u32`` the hash
    draw in [0, 2^32), keep ⇔ ``u32 · q_ref < 2^32 · min(q_w,
    q_ref)``. No overflow, no float comparison anywhere.

    Scale: adds ZERO stages to ``dsir_weights`` beyond a projection
    — same 2-scan plan, same constant 64-row model.
    """
    q_ref = int(P.DSIR_RESAMPLE_REF * 1_000_000)
    w = dsir_weights(docs, text_col)
    q_w = F.least(
        F.floor(F.col("dsir_weight") * F.lit(1e6) + F.lit(0.5)).cast(
            "long"
        ),
        F.lit(q_ref).cast("long"),
    )
    u32 = salted_pri(P.DSIR_RESAMPLE_SALT, F.col("doc_id"))
    return w.select(
        "doc_id",
        "n_tokens",
        "dsir_weight",
        (u32 * F.lit(q_ref) < F.lit(4294967296) * q_w).alias("accepted"),
    )


def l_diversity(docs: DataFrame) -> DataFrame:
    """l-diversity audit — k-anonymity's stronger sibling
    (Machanavajjhala et al. 2007): a quasi-identifier group can be
    k-anonymous yet still leak if everyone in it shares the same
    SENSITIVE value. Here the quasi-identifier is (source,
    generalized length) and the sensitive attribute is ``lang``: a
    group whose members span fewer than ``L`` distinct languages is
    flagged — within it, membership alone reveals the language.

    Same shape as ``k_anonymity``: one map-side-partial groupBy over
    the quasi-identifier pair with a distinct-count — group-
    cardinality output, scale-trivial, pure integer flags.
    """
    bucket = _chars_bucket()
    return (
        docs.select("source", bucket.alias("chars_bucket"), "lang")
        .groupBy("source", "chars_bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
        .select(
            "source",
            "chars_bucket",
            "n",
            "n_langs",
            (F.col("n_langs") < F.lit(P.L_DIVERSITY)).alias("at_risk"),
        )
    )
