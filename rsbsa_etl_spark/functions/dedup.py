"""Deduplication operators (extension surface, SURVEY north star).

Five families over the ``documents`` table:

- **exact**: hash-groupBy on a normalized-content fingerprint.
- **MinHash + LSH**: word-shingles → md5-based minhash signature →
  banding → candidate pairs via band-bucket self-join. The classic
  shingle/minhash/band pipeline (Broder '97) expressed as pure
  DataFrame ops — no UDFs, the signature is built with
  ``F.transform``/``F.array_min`` lambda expressions that run inside
  codegen.
- **SimHash**: per-token hash bit-votes → 16-bit signature
  (Charikar '02); near-dup pairs by Hamming distance
  (``bit_count(a ^ b)``).
- **n-gram Jaccard**: exact pairwise Jaccard over distinct shingles
  via explode + self-join + count ratio.
- **embedding cosine**: near-dup pairs above a cosine threshold over
  ``embeddings.embedding`` (see ``similarity.py`` for the shared
  kernel).

Portability note: every base hash is md5-of-string (identical in
DuckDB), so each operator has a *bit-exact* SQL oracle. Minhash uses
the standard ``(a·h1 + b·h2 + c) mod M`` universal permutations over
two 32-bit md5 chunks — integer math that both engines evaluate
identically (the oracle decodes the chunks with hex-digit
polynomials equal to Spark's ``conv``).

Scale notes: minhash-LSH is the 100 TB path — cost is
O(docs × shingles) for signatures plus a self-join on
(band_idx, band_hash) whose shuffle only carries
(doc_id, band_hash) pairs; banding keeps bucket sizes small so the
pair blow-up is bounded. Exact Jaccard / brute-force cosine are the
correctness oracles and small-data baselines; at scale they run
*after* LSH candidate generation, never on the full cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from rsbsa_etl_spark.functions.numeric import dec_round, hex_bigint

from rsbsa_etl_spark.params import (
    CONTAINMENT_THRESHOLD,
    JACCARD_THRESHOLD,
    MINHASH_BANDS,
    MINHASH_BUCKET_CAP,
    MINHASH_COEFFS,
    MINHASH_MOD,
    MINHASH_PERMS,
    SHINGLE_K,
    SIMHASH_BITS,
    SIMHASH_MAX_HAMMING,
)

# --------------------------------------------------------------- shingling

HEX_DIGITS = "0123456789abcdef"


def normalized_text(col: Column) -> Column:
    """lower + collapse whitespace — shared normalization for every
    text-dedup family (and ``doc_fingerprint`` in textstats)."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def tokens_col(col: Column) -> Column:
    """whitespace tokens of normalized text."""
    return F.split(normalized_text(col), " ")


def shingle_windows(col: Column, k: int = SHINGLE_K) -> Column:
    """k-word shingles (with duplicates); docs shorter than k words
    yield one whole-text shingle (keeps every doc representable)."""
    toks = tokens_col(col)
    n = F.size(toks)
    windows = F.transform(
        F.sequence(F.lit(1), n - F.lit(k - 1)),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )
    return F.when(n >= k, windows).otherwise(F.array(F.array_join(toks, " ")))


def shingles_col(col: Column, k: int = SHINGLE_K) -> Column:
    """distinct k-word shingles as an array column. NOTE:
    ``array_distinct`` is O(n²) per row — fine for bounded docs; the
    set-building operators below use the exploded+shuffle form
    (``shingle_rows``) instead, which partial-aggregates and scales."""
    return F.array_distinct(shingle_windows(col, k))


def _shingle_generator(text_col: str, k: int, as_sets: bool):
    """ONE per-doc shingling implementation behind both Arrow-batched
    generators (``shingle_rows`` and ``doc_shingle_sets``) — the
    normalization, k-window rule, and short-doc fallback must stay in
    lockstep with each other and with the DuckDB ``SHINGLES_CTE``
    (oracles.py), so they live in exactly one place.

    Factory-made closure on purpose: functions handed to
    ``mapInPandas`` must pickle BY VALUE — a module-level generator
    pickles by name and crashes Python workers whenever the driver
    runs outside the repo root (see the verify notes).
    """
    import re

    import pandas as pd

    ws = re.compile(r"\s+")
    out_col = "shingles" if as_sets else "shingle"

    def gen(batches):
        for pdf in batches:
            ids: list = []
            payload: list = []
            for did, txt in zip(pdf["doc_id"], pdf[text_col]):
                if txt is None:
                    # SQL string_split(NULL) is NULL and unnest drops
                    # it — a NULL document contributes no shingles in
                    # either engine (the `or ""` coercion used to
                    # emit a '' whole-text shingle here that the
                    # oracles never saw, a superbucket under null
                    # injection)
                    continue
                toks = ws.sub(" ", txt.strip().lower()).split(" ")
                n = len(toks)
                if n >= k:
                    windows = [
                        " ".join(toks[i : i + k]) for i in range(n - k + 1)
                    ]
                else:
                    windows = [" ".join(toks)]
                if as_sets:
                    ids.append(did)
                    payload.append(sorted(set(windows)))
                else:
                    ids.extend([did] * len(windows))
                    payload.extend(windows)
            yield pd.DataFrame({"doc_id": ids, out_col: payload})

    return gen


def shingle_rows(docs: DataFrame, text_col: str = "text", k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, shingle) exploded rows, duplicates retained — the
    scalable base for minhash (min ignores duplicates) and, after
    ``.distinct()``, for exact Jaccard.

    Arrow-batched generation: the column-lambda form
    (``shingle_windows`` + explode) evaluates Spark's higher-order
    functions *interpreted, per element* — measured 3× slower than
    this mapInPandas generator on the same corpus. Window generation
    is embarrassingly parallel per doc, so the Python path scales
    with executors like any other narrow map. Semantics identical
    (same normalization, same k-word windows, short docs → one
    whole-text shingle)."""
    return docs.select("doc_id", text_col).mapInPandas(
        _shingle_generator(text_col, k, as_sets=False),
        "doc_id bigint, shingle string",
    )


def doc_shingle_sets(
    docs: DataFrame, text_col: str = "text", k: int = SHINGLE_K
) -> DataFrame:
    """(doc_id, shingles: array<string>) — each doc's DISTINCT
    shingle set as one array row, same generator as ``shingle_rows``
    with per-doc set dedup in Python.

    This is the narrow-plan base for the exact-verify pipelines: it
    comes straight off the scan with NO shuffle (where
    ``shingle_rows(...).distinct()`` costs an exchange), and the
    array form lets a candidate verify compute |A∩B| with
    ``array_intersect`` per pair instead of an explode → join →
    groupBy chain. Arrays are doc-sized — bounded by document
    length, independent of corpus size — so rows stay small at any
    scale. Sorted for deterministic output.
    """
    return docs.select("doc_id", text_col).mapInPandas(
        _shingle_generator(text_col, k, as_sets=True),
        "doc_id bigint, shingles array<string>",
    )


def shingle_rows_expr(
    docs: DataFrame, text_col: str = "text", k: int = SHINGLE_K
) -> DataFrame:
    """pure column-expression form of ``shingle_rows`` — the
    no-Python reference implementation (used by the portability
    tests to pin that both forms agree)."""
    return docs.select(
        "doc_id", F.explode(shingle_windows(F.col(text_col), k)).alias("shingle")
    )


# ------------------------------------------------------------- exact dedup


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup via content fingerprint: one hash-groupBy, keep
    the smallest doc_id per fingerprint (deterministic canonical
    representative). Map-side partial agg makes this one shuffle of
    (fingerprint, partial-min/count) pairs — the cheapest possible
    exact dedup at any scale."""
    return (
        docs.select(
            F.md5(normalized_text(F.col(text_col))).alias("fingerprint"),
            F.col("doc_id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_doc_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
    )


# ---------------------------------------------------------------- minhash


def minhash_signature(
    docs: DataFrame,
    text_col: str = "text",
    perms: int = MINHASH_PERMS,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sig: array<bigint>) — universal-hash minhash.

    One md5 per shingle yields two 32-bit chunks (h1, h2); perm p is
    ``(h1·aₚ + h2·bₚ + cₚ) mod M`` (M = 2^61−1, coeffs in params) —
    the classic (Broder '97 / Carter–Wegman) construction. Shingles
    are exploded once and the 16 mins are one grouped aggregation:
    partial (map-side) min means the shuffle carries one 16-long row
    per doc per partition. (Duplicate shingles need no dedup: min is
    idempotent under duplicates.)

    An earlier md5-per-perm variant hashed 16× per shingle and its
    16-wide md5 aggregate cost ~4 s of codegen/JIT alone; integer
    multiply-mod permutations are ~2× faster end-to-end and equally
    portable (the oracle decodes the same md5 chunks via hex-digit
    polynomials — bit-identical to Spark's ``conv``).

    Careful with PySpark lambda arity in any rewrite: a
    two-parameter lambda in ``F.transform`` binds (element, index) —
    an early version used ``lambda s, p=p`` and silently hashed with
    the stringified index column as the prefix.
    """
    # ``shingles`` lets callers that already hold a (possibly
    # distinct+persisted) shingle table share it — min is idempotent
    # under duplicates, so the deduped set yields the same signature
    h = F.md5(F.col("shingle"))
    base = shingles if shingles is not None else shingle_rows(docs, text_col)
    rows = base.select(
        "doc_id",
        hex_bigint(h).alias("h1"),
        hex_bigint(h, 9).alias("h2"),
    )
    mins = [
        F.min(
            (
                F.col("h1") * F.lit(a) + F.col("h2") * F.lit(b) + F.lit(c)
            ) % F.lit(MINHASH_MOD)
        ).alias(f"m{p}")
        for p, (a, b, c) in enumerate(MINHASH_COEFFS[:perms])
    ]
    agg = rows.groupBy("doc_id").agg(*mins)
    return agg.select(
        "doc_id", F.array(*[F.col(f"m{p}") for p in range(perms)]).alias("sig")
    )


def minhash_bands(sig_df: DataFrame, bands: int = MINHASH_BANDS) -> DataFrame:
    """(doc_id, band, band_hash) — concatenate each band's rows and
    re-hash. rows-per-band = perms / bands."""
    n_sig = MINHASH_PERMS
    rows = n_sig // bands
    band_cols = [
        F.md5(
            F.concat_ws(
                "|", *[F.col("sig").getItem(b * rows + r) for r in range(rows)]
            )
        )
        for b in range(bands)
    ]
    return sig_df.select(
        "doc_id", F.posexplode(F.array(*band_cols)).alias("band", "band_hash")
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    shingles: DataFrame | None = None,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 band bucket.

    The self-join shuffles only (band, band_hash, doc_id) triples —
    at 100 TB the fact table never re-reads; skewed buckets (a
    boilerplate shingle shared by millions of docs) are the risk, so
    production adds a bucket-size cap; AQE skew-join splitting
    handles moderate skew here.

    The band table is persisted: both self-join sides reference the
    same subtree, and without a cache Spark computes the whole
    shingle→signature→band pipeline twice (AQE does not reuse the
    exchange across the aliased sides).
    """
    return band_self_join(
        minhash_bands(minhash_signature(docs, text_col, shingles=shingles))
    )


def band_self_join(bands: DataFrame) -> DataFrame:
    """(doc_a, doc_b) pairs sharing ≥1 (band, band_hash) bucket —
    the shared tail of every banded-LSH candidate pipeline. Persists
    the band table so the aliased self-join sides reuse one subtree."""
    b = bands.persist()
    left = b.alias("a")
    right = b.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


# ------------------------------------------------------- cluster resolution


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 20,
) -> DataFrame:
    """connected components over candidate pairs → canonical
    representative per doc (cluster_id = min doc_id in component).

    The step every dedup pipeline needs after pair generation: A≈B
    and B≈C must collapse to one keeper even when A≉C directly.
    Iterative min-label propagation over the (symmetrized) edge set —
    each round is one join + min-aggregate; converges in O(component
    diameter) rounds (a driver-side fixpoint check per round, which
    is the idiomatic Spark shape for iterative graph algorithms;
    GraphFrames/Pregel does the same with checkpointing). Label size
    carried through the shuffle is one long per node.

    Deterministic: min is order-independent, so the result is a pure
    function of the pair set — the oracle replays it as a recursive
    transitive-closure CTE (safe because near-dup components are
    small; the *iterative* form here is the one that scales).
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .persist()
    )
    # iterate only over nodes that appear in an edge — components
    # cannot span isolated docs; singletons rejoin at the end
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .select(F.col("dst").alias("node"), "label")
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        propagated = (
            labels.unionByName(neighbor_min)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # pointer jumping: also adopt the label of one's current
        # label-node — doubles the propagation distance per round,
        # so convergence is O(log diameter) instead of O(diameter)
        parent = propagated.select(
            F.col("node").alias("label"), F.col("label").alias("grand")
        )
        # localCheckpoint (not persist): the self-join doubles the
        # logical plan every round, and Catalyst re-analyzes the FULL
        # lineage per iteration — measured 2.7s → 9s → 108s per round
        # with persist alone. Truncating lineage keeps every round's
        # plan constant-size (on a cluster, use reliable checkpoint()
        # — localCheckpoint does not survive executor loss).
        new_labels = (
            propagated.join(parent, "label")
            .select("node", F.least("label", "grand").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels.unpersist()
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    return (
        docs.select(F.col(id_col).alias("node"))
        .join(labels, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("label", "node").alias("cluster_id"),
        )
    )


# ----------------------------------------------------------------- simhash


def simhash_signature(
    docs: DataFrame, text_col: str = "text", bits: int = SIMHASH_BITS
) -> DataFrame:
    """(doc_id, simhash) — SimHash over distinct tokens.

    bit j of md5(token) votes ±1; signature bit = majority. Uses the
    first bits/4 hex chars of the token md5. Explode + one grouped
    aggregation (bits sum-columns) — partial aggregation keeps the
    shuffle at (doc_id, 16 ints).
    """
    tok = (
        docs.select("doc_id", F.explode(tokens_col(F.col(text_col))).alias("tok"))
        .distinct()  # shuffle-dedup scales; array_distinct is O(n²)/row
        .withColumn("h", F.md5(F.col("tok")))
    )
    votes = []
    for j in range(bits):
        ch = F.substring(F.col("h"), 1 + j // 4, 1)
        val = F.instr(F.lit(HEX_DIGITS), ch) - F.lit(1)
        bit = F.floor(val / (2 ** (3 - j % 4))) % 2
        votes.append(F.sum(bit * 2 - 1).alias(f"v{j}"))
    agg = tok.groupBy("doc_id").agg(*votes)
    sim = None
    for j in range(bits):
        term = F.when(F.col(f"v{j}") > 0, F.lit(1 << (bits - 1 - j))).otherwise(F.lit(0))
        sim = term if sim is None else (sim + term)
    return agg.select("doc_id", sim.cast("long").alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = SIMHASH_MAX_HAMMING,
) -> DataFrame:
    """near-dup pairs by signature Hamming distance — all-pairs
    broadcast nested-loop over the (tiny) signature table.

    The O(n²) reference implementation: correct at any selectivity,
    viable only to ~10⁵ docs. ``simhash_pairs_banded`` produces the
    identical pair set via a band equi-join and wins even on this
    degenerate fixture corpus (sf0.1: 2 949 distinct signatures for
    5 000 docs, band buckets up to 1 793 docs, Σm² ≈ 70 % of n² —
    and banding is still ~2× faster warm); it is the only shape that
    survives 100× growth. This form exists as the equality oracle.
    """
    s = simhash_signature(docs, text_col)
    a, b = s.alias("a"), s.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .where(ham <= max_hamming)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
    )


def simhash_pairs_banded(
    docs: DataFrame,
    text_col: str = "text",
    max_hamming: int = SIMHASH_MAX_HAMMING,
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """the 100 TB path: pigeonhole banding.

    Split the ``bits``-bit signature into ``max_hamming + 1``
    contiguous bands; any pair within Hamming ≤ max_hamming has zero
    differing bits in at least one band, so a band-bucket equi-join
    generates a candidate superset and the exact ``bit_count`` filter
    recovers *exactly* the brute-force pair set (equality pinned in
    tests). Each pair is emitted once — matched on its *first* equal
    band (later-band matches require an earlier band to differ) —
    so no pair-level distinct shuffle is needed.
    """
    nb = max_hamming + 1
    widths = [bits // nb + (1 if i < bits % nb else 0) for i in range(nb)]
    s = simhash_signature(docs, text_col, bits)

    def band_val(col: Column, idx: int) -> Column:
        shift = sum(widths[idx + 1 :])
        return F.shiftright(col, shift).bitwiseAND(F.lit((1 << widths[idx]) - 1))

    banded = s.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(*[band_val(F.col("simhash"), i) for i in range(nb)])
        ).alias("band", "band_val"),
    ).persist()
    a, b = banded.alias("a"), banded.alias("b")
    first_match = F.lit(True)
    for i in range(nb - 1):
        # rows joined on band i carry i in the band column; require
        # every earlier band to differ so only the first match emits
        earlier_differs = band_val(F.col("a.simhash"), i) != band_val(
            F.col("b.simhash"), i
        )
        first_match = first_match & ((F.col("a.band") <= i) | earlier_differs)
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(first_match & (ham <= max_hamming))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            ham.cast("int").alias("hamming"),
        )
    )


# ---------------------------------------------------------- exact jaccard


def prefix_filter_candidates(
    sh: DataFrame,
    threshold: float,
    containment: bool = False,
) -> DataFrame:
    """EXACT candidate pairs via prefix filtering (AllPairs /
    PPJoin family, Bayardo et al. WWW'07; Chaudhuri et al. ICDE'06).

    Order every doc's distinct shingles by a global total order
    (rarest first, shingle text as tie-break) and keep only the
    first ``|d| − α + 1`` as the doc's *prefix*, where
    ``α = ⌈t·|d|⌉`` is the minimum intersection any qualifying
    partner must reach (Jaccard ≥ t ⟹ |A∩B| ≥ t·|A∪B| ≥ t·|A|;
    containment(A→B) ≥ t ⟹ |A∩B| ≥ t·|A|). The prefix-filter
    lemma then guarantees every qualifying pair shares ≥1 *prefix*
    shingle — so unlike MinHash banding this candidate set is a
    deterministic superset of the answer: recall is exactly 1 at the
    stated threshold, by construction, on any data. (α is computed
    as ``ceil(t·|d| − 1e-9)``: the epsilon only ever *lengthens* the
    prefix under float round-up, keeping the superset property.)

    - ``containment=False`` (symmetric Jaccard): both docs shrink to
      prefixes and the join is prefix ⋈ prefix.
    - ``containment=True`` (asymmetric): only the contained side's
      size is bounded, so the join is prefix ⋈ *full* shingle set,
      emitted as an unordered (doc_a < doc_b) pair — the caller
      checks both directions from the one intersection count.

    Scale: the rare-first order is what bounds the work — a prefix
    join touches a shingle's posting list only when that shingle is
    among a doc's ``(1−t)·|d|+1`` *rarest*, so the ubiquitous
    boilerplate shingles that make a naive posting-list self-join
    quadratic almost never appear in any prefix. Cost is one
    frequency aggregation + one per-doc rank window (partition =
    one doc's shingles, bounded by doc length) + an equi-join that
    shuffles (shingle, doc_id) pairs — every stage is keyed,
    partial-aggregated, and skew-safe under AQE.
    """
    ranked = _rank_by_rarity(sh, ["doc_id"])
    return _prefix_join(ranked, threshold, containment)


def _prefix_join(
    ranked: DataFrame, threshold: float, containment: bool
) -> DataFrame:
    """the candidate join over an already-ranked shingle table —
    split out of ``prefix_filter_candidates`` (r14) so the
    containment auto-dial can price the join from the SAME ranked
    table it then feeds to this, paying the rank window once.

    r16 (guide §2.3 — shuffle/broadcast fewer bytes): the equi-join
    key is ``xxhash64(shingle)``, 8 bytes, instead of the shingle
    STRING — the broadcast build side and every join-key hash/compare
    stop touching string bytes; the string stays only in the ranked
    table's window pipeline, which needs it for the deterministic
    tie-break order. LOSSLESS: a 64-bit collision can only ADD a
    candidate pair (every consumer verifies candidates with the
    pair-local exact ``array_intersect`` threshold), never drop one —
    equal strings always hash equal, so the prefix-filter lemma's
    superset guarantee is unchanged."""
    keep_cols = [c for c in ranked.columns if c != "shingle"]
    slim = ranked.select(
        F.xxhash64("shingle").alias("sh"), *keep_cols
    )
    prefix = slim.where(_prefix_cond(threshold))
    a = prefix.alias("a")
    keep = _keep_cond(threshold, containment)
    if containment:
        right = slim.alias("b")
        pair_filter = (F.col("a.doc_id") != F.col("b.doc_id")) & keep
        flip = F.col("a.doc_id") < F.col("b.doc_id")
        out = (
            a.join(
                right,
                (F.col("a.sh") == F.col("b.sh")) & pair_filter,
            )
            .select(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
                F.when(flip, F.col("a.sz")).otherwise(F.col("b.sz")).alias("sz_a"),
                F.when(flip, F.col("b.sz")).otherwise(F.col("a.sz")).alias("sz_b"),
            )
        )
    else:
        right = prefix.alias("b")
        out = (
            a.join(
                right,
                (F.col("a.sh") == F.col("b.sh"))
                & (F.col("a.doc_id") < F.col("b.doc_id"))
                & keep,
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                F.col("a.sz").alias("sz_a"),
                F.col("b.sz").alias("sz_b"),
            )
        )
    # sz_a/sz_b are functionally dependent on the doc ids, so the
    # distinct is still pair-granular; carrying them saves the
    # verify stage two joins back onto the size table
    return out.distinct()


def _rank_by_rarity(sh: DataFrame, part_cols: list) -> DataFrame:
    """(…part_cols, shingle, pos, sz): each doc's shingles ranked by
    the shared global rare-first order — the single implementation
    behind the unary and bipartite prefix filters.

    Document frequency comes from a count window over the shingle
    partitioning rather than groupBy+join-back: two exchanges
    cheaper, and it introduces no NEW skew class — a shingle's
    posting list already meets in one task at the candidate join,
    and the window's per-bucket work is linear (the quadratic risk
    lives in the join, where prefix filtering is what bounds it).
    Under truly adversarial skew (a boilerplate shingle with 10⁸
    postings) the standard remedy — dropping ultra-frequent
    shingles, which never discriminate — applies to both the window
    and the join equally.

    Persisted: both aliased join sides read this subtree, and
    without a cache the rank-window pipeline runs twice (AQE does
    not reuse the exchange across aliases — same reason
    ``band_self_join`` persists the band table).
    """
    from pyspark.sql import Window

    return (
        sh.withColumn(
            "df", F.count("*").over(Window.partitionBy("shingle"))
        )
        .select(
            *part_cols,
            "shingle",
            F.row_number()
            .over(
                Window.partitionBy(*part_cols).orderBy(
                    F.col("df").asc(), F.col("shingle").asc()
                )
            )
            .alias("pos"),
            F.count("*")
            .over(Window.partitionBy(*part_cols))
            .alias("sz"),
        )
        .persist()
    )


def _prefix_cond(threshold: float) -> Column:
    """pos ≤ |d| − α + 1 with α = ⌈t·|d| − ε⌉ — the doc's prefix
    under the shared order. The ε only ever LENGTHENS the prefix
    under float round-up, preserving the superset property."""
    alpha = F.ceil(F.lit(float(threshold)) * F.col("sz") - F.lit(1e-9))
    return F.col("pos") <= F.col("sz") - alpha + F.lit(1)


def _keep_cond(threshold: float, containment: bool) -> Column:
    """the two LOSSLESS per-match prunes (PPJoin, Xiao et al.
    WWW'08), over ``a``/``b`` aliased rank rows. Both are valid for
    the pair because the globally-least common shingle — the "first
    match" — carries the loosest positional bound, so a qualifying
    pair always survives on at least that row:

    - length filter: the required overlap can't exceed the smaller
      set, so qualifying sizes are within a factor of t (Jaccard)
      or the container is ≥ t× the contained side (containment);
    - positional filter: at the first common shingle, the overlap
      is at most 1 + min(remaining suffix lengths), which must
      still reach the pair's required overlap.
    """
    t = float(threshold)
    eps = F.lit(1e-9)
    positional = F.lit(1) + F.least(
        F.col("a.sz") - F.col("a.pos"), F.col("b.sz") - F.col("b.pos")
    )
    if containment:
        required = F.ceil(F.lit(t) * F.col("a.sz") - eps)
        return (F.col("b.sz") >= required) & (positional >= required)
    required = F.ceil(
        F.lit(t / (1.0 + t)) * (F.col("a.sz") + F.col("b.sz")) - eps
    )
    length_ok = (
        F.least(F.col("a.sz"), F.col("b.sz"))
        >= F.lit(t) * F.greatest(F.col("a.sz"), F.col("b.sz")) - eps
    )
    return length_ok & (positional >= required)


def prefix_filter_candidates_bipartite(
    sh_left: DataFrame,
    sh_right: DataFrame,
    threshold: float,
    containment: bool = False,
) -> DataFrame:
    """EXACT candidate pairs BETWEEN two corpora (left × right) via
    prefix filtering — the bipartite form of
    ``prefix_filter_candidates``, powering cross-corpus operators:
    fuzzy decontamination (eval set vs training set) and incremental
    dedup (new docs vs existing corpus).

    The shingle order is computed over the UNION of both sides —
    the prefix-filter lemma needs one shared global total order; a
    per-side order would break the guarantee. Positions and sizes
    are then per (side, doc). With ``containment=False`` both sides
    shrink to prefixes (Jaccard bound); with ``containment=True``
    only the LEFT (contained) side takes a prefix and the right side
    joins in full, so left-in-right subset pairs are guaranteed
    candidates. Directed output: ``doc_a`` is always the left doc.

    Scale shape is identical to the unary form — one window pass
    over the union, prefix equi-join, length + positional prunes —
    and notably the right corpus (the big side: the 100 TB training
    set) is never self-joined, only probed by the left prefixes.
    """
    union = sh_left.select("doc_id", "shingle").withColumn(
        "side", F.lit("L")
    ).unionByName(
        sh_right.select("doc_id", "shingle").withColumn("side", F.lit("R"))
    )
    ranked = _rank_by_rarity(union, ["side", "doc_id"])
    # same 8-byte hash join key as the unary form (r16, §2.3) — a
    # collision can only add a candidate for the exact verify to drop
    slim = ranked.select(
        F.xxhash64("shingle").alias("sh"),
        *[c for c in ranked.columns if c != "shingle"],
    )
    is_prefix = _prefix_cond(threshold)
    a = slim.where((F.col("side") == "L") & is_prefix).alias("a")
    if containment:
        b = slim.where(F.col("side") == "R").alias("b")
    else:
        b = slim.where((F.col("side") == "R") & is_prefix).alias("b")
    keep = _keep_cond(threshold, containment)
    return (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & keep)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sz").alias("sz_a"),
            F.col("b.sz").alias("sz_b"),
        )
        .distinct()
    )


def _pair_intersections(
    sets: DataFrame, candidates: DataFrame
) -> DataFrame:
    """|A∩B| computed ONLY for candidate pairs, via per-pair
    ``array_intersect`` over the two docs' shingle arrays.

    The scale-safe replacement for both the shared-shingle self-join
    (quadratic in posting-list length) and the exploded
    candidate⋈shingle⋈shingle→groupBy chain (whose intermediate is
    Σ_pairs |A| rows and costs three exchanges): here the candidate
    list — linear-ish in corpus size — joins each side's doc-sized
    array once, and the intersection is computed row-locally inside
    codegen. Work is Σ_pairs (|A|+|B|), bounded by candidates × doc
    size, never by posting-list² — and the only shuffles are the two
    pair⋈sets equi-joins.

    Extra candidate columns (e.g. the sz_a/sz_b the prefix filter
    already computed) pass through, saving the caller re-joins onto a
    size table.
    """
    carry = [c for c in candidates.columns if c not in ("doc_a", "doc_b")]
    return (
        candidates.join(
            sets.select(
                F.col("doc_id").alias("doc_a"), F.col("shingles").alias("set_a")
            ),
            "doc_a",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("doc_b"), F.col("shingles").alias("set_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            *carry,
            F.size(F.array_intersect("set_a", "set_b")).alias("inter"),
        )
    )


def _candidate_intersections(
    docs: DataFrame,
    text_col: str,
    threshold: float,
    containment: bool,
    candidates: DataFrame | None,
    sets: DataFrame | None,
) -> DataFrame:
    """the shared front half of the two exact verifiers: the
    persisted doc→shingle-set arrays (unless the caller passes
    them), prefix-filter candidates over their exploded view (unless
    the caller passes its own), sizes joined onto candidates that
    don't carry them (e.g. MinHash LSH pairs), then
    ``_pair_intersections``."""
    if sets is None:
        sets = doc_shingle_sets(docs, text_col).persist()
    if candidates is None:
        sh = sets.select("doc_id", F.explode("shingles").alias("shingle"))
        candidates = prefix_filter_candidates(sh, threshold, containment)
    if not {"sz_a", "sz_b"} <= set(candidates.columns):
        sizes = sets.select("doc_id", F.size("shingles").alias("sz"))
        candidates = candidates.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")),
            "doc_a",
        ).join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")),
            "doc_b",
        )
    return _pair_intersections(sets, candidates)


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = JACCARD_THRESHOLD,
    candidates: DataFrame | None = None,
    sets: DataFrame | None = None,
) -> DataFrame:
    """pairwise Jaccard over distinct k-shingles — EXACT, equal to
    the all-pairs oracle on any data.

    Candidate generation is prefix filtering
    (``prefix_filter_candidates``): a deterministic superset of every
    pair with Jaccard ≥ threshold, by the prefix-filter lemma — not a
    probabilistic sketch. (Banded MinHash at 4 bands × 4 rows only
    catches a pair at j≈0.6 with probability ≈0.43, so an LSH-
    restricted verify silently drops near-threshold pairs; callers
    who want that recall/cost trade pass LSH candidates explicitly
    via ``candidates``.) The exact |A∩B|/|A∪B| ratio is then
    computed only for candidates via ``_pair_intersections``, so no
    unfiltered shingle-posting-list self-join exists in the plan.

    Plan shape: the doc→shingle-set arrays come off the scan with no
    shuffle (``doc_shingle_sets``), the candidate pipeline reads the
    exploded view of the same persisted arrays, and the verify is
    two pair⋈sets joins + a row-local ``array_intersect``.
    """
    inter = _candidate_intersections(
        docs, text_col, threshold, False, candidates, sets
    )
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.where(jac >= threshold)
        .select(
            "doc_a",
            "doc_b",
            dec_round(jac, 4).alias("jaccard"),
        )
    )


def minhash_capped_pairs(
    docs: DataFrame,
    text_col: str = "text",
    cap: int = MINHASH_BUCKET_CAP,
) -> DataFrame:
    """LSH candidate pairs with a bucket-size cap — the production
    skew guard ``minhash_candidate_pairs`` only documents.

    A boilerplate band signature shared by millions of documents
    creates one bucket whose self-join is quadratic in the bucket
    size; those pairs are almost never true near-duplicates of each
    other (they share template text, not content). Dropping buckets
    over ``cap`` members bounds per-bucket work at cap² and is the
    standard trade in web-scale dedup (recall for the capped docs is
    carried by their other, selective bands).

    Plan shape: bucket sizes come from a count window over
    (band, band_hash), which shuffles the band table once; the
    self-join then reuses that same hash partitioning, so the cap
    costs no extra exchange.
    """
    from pyspark.sql import Window

    b = minhash_bands(minhash_signature(docs, text_col)).persist()
    sized = b.withColumn(
        "bsz", F.count("*").over(Window.partitionBy("band", "band_hash"))
    ).where(F.col("bsz") <= cap)
    left, right = sized.alias("a"), sized.alias("b")
    return (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_estimate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    perms: int = MINHASH_PERMS,
) -> DataFrame:
    """candidate pairs + the MinHash Jaccard ESTIMATE — the fraction
    of agreeing signature positions, the O(perms) screening score
    real LSH pipelines use to rank/threshold candidates before (or
    instead of) the exact shingle-intersection verify: at web scale
    the estimate costs a signature lookup while exact Jaccard costs
    re-reading both documents' shingle sets.

    Plan shape: the signature table is built ONCE, persisted, and
    feeds both the band self-join (candidates) and the estimate join
    — one shingle explode + one grouped min-aggregation total, where
    an earlier version recomputed the whole shingle→signature
    pipeline inside the candidate call. The estimate itself is a
    zip_with/aggregate fold over the two 16-long signature arrays
    joined onto the pair list — candidate-sized work, corpus touched
    only by the signature build.
    """
    sig = minhash_signature(docs, text_col, perms).persist()
    cand = band_self_join(minhash_bands(sig))
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    agree = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            dec_round(agree / F.lit(float(perms)), 4).alias("jaccard_est"),
        )
    )


#: ``pagerank`` cuts the rank vector's lineage with an eager
#: localCheckpoint once per this many power iterations
PAGERANK_CHECKPOINT_EVERY = 8


def pagerank(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    n_iters: int = 3,
) -> DataFrame:
    """PageRank over the undirected candidate-pair graph — the
    importance-scoring companion of ``dedup_clusters`` (same edge
    set): which document of a duplicate cluster is the hub.

    Simplified variant: no dangling-mass redistribution (isolated
    docs decay to the (1-d)/N floor), damping 0.85, ``n_iters``
    fixed power iterations.

    Determinism discipline (the double-sum killer, SURVEY §7.3.7):
    each neighbor contribution r/deg is quantized to 1e-12 fixed
    point and the per-node inflow is summed as BIGINTs — exact and
    partition-order-free — then the damping update is one fixed
    sequence of double ops, re-quantized per round. Every
    iteration's rank vector is therefore bit-identical to the
    oracle's unrolled SQL.

    Scale: per round, one shuffle for the inflow agg and one
    broadcast-able join of ranks onto edges (rank table is
    node-sized). The rank vector — never the edge table — is
    localCheckpointed every ``PAGERANK_CHECKPOINT_EVERY`` rounds:
    bounded-depth lineage for the same reason as ``dedup_clusters``.
    """
    q = F.lit(10.0 ** 12)
    nodes = docs.select(F.col(id_col).alias("node"))
    nn = nodes.agg(F.count("*").alias("n"))
    # persist the symmetrized edge table WITH each source's degree
    # attached (r15): every power iteration needs (src, dst, deg),
    # and the old form re-aggregated deg from the cached edges and
    # re-joined it EVERY round — 3 extra shuffles + 3 joins across
    # the loop (guide §2.4: two operations keyed the same way should
    # share one exchange — here the deg agg and its join collapse
    # into the one-time cache build). Without the cache each round
    # would re-run the whole candidate-pair pipeline
    # (shingle → signature → band self-join).
    sym = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    edges = sym.join(
        sym.groupBy("src").agg(F.count("*").alias("deg")), "src"
    ).persist()

    def quant(col: F.Column) -> F.Column:
        return F.floor(col * q + 0.5) / q

    r = nodes.join(F.broadcast(nn)).select(
        "node", quant(F.lit(1.0) / F.col("n")).alias("r")
    )
    for i in range(n_iters):
        # lineage cut every ``PAGERANK_CHECKPOINT_EVERY`` rounds, not
        # every round (r16): each eager localCheckpoint is a separate
        # serialized driver job — at the default 3 iterations that
        # was 3 blocking jobs before the caller's action even
        # started, while a 3-round join/agg chain is far below the
        # plan depth where Catalyst re-analysis hurts (the
        # dedup_clusters blowup started an order of magnitude
        # deeper). Long power-iteration runs still get the cut.
        if i and i % PAGERANK_CHECKPOINT_EVERY == 0:
            r = r.localCheckpoint(eager=True)
        contrib = (
            edges.join(r.withColumnRenamed("node", "src"), "src")
            .select(
                "dst",
                F.floor(F.col("r") / F.col("deg") * q + 0.5)
                .cast("long")
                .alias("cq"),
            )
        )
        inflow = contrib.groupBy("dst").agg(F.sum("cq").alias("sq"))
        r = (
            nodes.join(inflow.withColumnRenamed("dst", "node"), "node", "left")
            .join(F.broadcast(nn))
            .select(
                "node",
                quant(
                    F.lit(0.15) / F.col("n")
                    + F.lit(0.85)
                    * (F.coalesce(F.col("sq"), F.lit(0).cast("long")) / q)
                ).alias("r"),
            )
        )
    return r.select(F.col("node").alias(id_col), F.col("r").alias("rank"))


def containment_pairs(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = CONTAINMENT_THRESHOLD,
    candidates: DataFrame | None = None,
    sets: DataFrame | None = None,
) -> DataFrame:
    """asymmetric near-duplicate detection: containment
    |A∩B| / |A| of distinct shingle sets — catches quote/subset
    relationships (one doc embedded inside a larger one) that
    symmetric Jaccard misses whenever the sizes differ. The second
    pass of a dedup pipeline after exact + Jaccard.

    Exact verification runs only on prefix-filter candidate pairs
    (``prefix_filter_candidates(..., containment=True)``): the
    contained side's prefix is joined against the container's FULL
    shingle set, so subset pairs — which have high containment but
    low Jaccard and therefore near-zero MinHash band-collision
    probability — are guaranteed candidates, not lucky ones. The
    pair then flows through the same ``_pair_intersections`` path as
    ``ngram_jaccard_pairs``; both directions are checked from one
    undirected intersection count, making the result equal to the
    all-pairs oracle on any data.
    """
    both = _candidate_intersections(
        docs, text_col, threshold, True, candidates, sets
    ).select(
        F.col("doc_a").alias("doc_x"),
        F.col("doc_b").alias("doc_y"),
        F.col("sz_a").alias("sz_x"),
        F.col("sz_b").alias("sz_y"),
        "inter",
    )
    # both directions from ONE scan of the verify join: a two-struct
    # explode is narrow and avoids the union-of-two-branches shape,
    # which would recompute the whole candidate+verify subtree twice
    # (union branches don't share uncached subtrees)
    directed = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_x").alias("doc_contained"),
                    F.col("doc_y").alias("doc_container"),
                    (F.col("inter") / F.col("sz_x")).alias("containment"),
                ),
                F.struct(
                    F.col("doc_y").alias("doc_contained"),
                    F.col("doc_x").alias("doc_container"),
                    (F.col("inter") / F.col("sz_y")).alias("containment"),
                ),
            )
        ).alias("d")
    ).select("d.*")
    return directed.where(F.col("containment") >= threshold).select(
        "doc_contained",
        "doc_container",
        dec_round(F.col("containment"), 4).alias("containment"),
    )


def _shingle_pair_dial(
    docs: DataFrame,
    text_col: str,
    threshold: float,
    containment: bool,
    volume,
    budget_per_doc: int,
    verify,
) -> DataFrame:
    """the body both shingle-pair auto-dials share: persist the
    shingle sets, rank them once, sum the exact arm's per-shingle
    join volume ``volume(ranked)`` (a shingle-keyed frame with one
    ``v`` column) and count ``n_docs`` in ONE eager job, then feed
    ``verify`` the exact arm's prefix-join candidates while
    ``Σ v ≤ budget_per_doc × n_docs`` and capped-LSH candidates above
    it (releasing the unused rank table). The rank window is paid
    once: the exact arm consumes the same persisted ranked table the
    statistic read."""
    sets = doc_shingle_sets(docs, text_col).persist()
    sh = sets.select("doc_id", F.explode("shingles").alias("shingle"))
    ranked = _rank_by_rarity(sh, ["doc_id"])  # persisted inside
    row = (
        volume(ranked)
        .agg(F.coalesce(F.sum("v"), F.lit(0)).alias("v"))
        .crossJoin(docs.agg(F.count("*").alias("n_docs")))
        .collect()[0]
    )
    if row["v"] <= budget_per_doc * row["n_docs"]:
        cand = _prefix_join(ranked, threshold, containment)
    else:
        ranked.unpersist()
        cand = minhash_capped_pairs(docs, text_col)
    return verify(docs, text_col, threshold, candidates=cand, sets=sets)


def containment_pairs_auto(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = CONTAINMENT_THRESHOLD,
) -> DataFrame:
    """measured auto-dial over the two containment arms (r13 verdict
    item 5, mirroring ``mmr_rerank_auto``'s pattern): price the exact
    arm's prefix join BEFORE running it, then pick.

    The statistic is the join's exact pre-prune cardinality

        V = Σ_s prefix_postings(s) × full_postings(s)

    — not an estimate: it is the number of rows the exact arm's
    prefix ⋈ full equi-join will materialize before the positional/
    length prunes and the pair distinct. That join is the ONLY
    superlinear stage (SCALING.md: candidate volume grows with
    per-shingle posting density², exponent 0.84 and rising on the
    decade fixture, 25.8 s at sf1 vs the capped dial's 3.3 s), and V
    prices it from one shingle-keyed partial aggregation over the
    SAME ranked table the exact arm then consumes
    (``_shingle_pair_dial``) — when the capped arm is picked the
    wasted work is that aggregation, never a join.

    Pick: exact while ``V ≤ CONTAINMENT_AUTO_MAX_PAIRS_PER_DOC ×
    n_docs`` (full recall stays the default wherever it is
    tractable); above it the capped-LSH candidate arm (exact verify,
    LSH recall). The budget sits at the measured wall-clock
    crossover (SCALING.md r14: V/doc 12.1 → exact wins, 72.6 →
    capped wins, 955.7 → capped by 15×; the per-doc form is
    scale-free — it bounds the exact join at `budget` rows/doc,
    linear in corpus size). V is pure integer arithmetic on
    distinct-shingle postings and the budget is the one ``params``
    constant the oracle also reads, so a SQL oracle replicates the
    pick bit-identically — the auto key is value-checked END-TO-END
    including the dial decision, and both explicit arms stay
    registered as the manual overrides."""
    from rsbsa_etl_spark.params import CONTAINMENT_AUTO_MAX_PAIRS_PER_DOC

    def volume(ranked: DataFrame) -> DataFrame:
        # postings × prefix postings per shingle, from ONE groupBy
        in_prefix = F.when(_prefix_cond(threshold), F.lit(1)).otherwise(F.lit(0))
        return ranked.groupBy("shingle").agg(
            (F.count("*") * F.sum(in_prefix)).alias("v")
        )

    return _shingle_pair_dial(
        docs, text_col, threshold, True, volume,
        CONTAINMENT_AUTO_MAX_PAIRS_PER_DOC, containment_pairs,
    )


def jaccard_pairs_auto(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """the Jaccard sibling of ``containment_pairs_auto`` — the exact
    AllPairs arm carried the suite's worst measured growth law
    (exponent 1.13 over the dense decade, SCALING.md r8), and its
    only superlinear stage is the prefix ⋈ prefix equi-join, whose
    exact pre-prune cardinality is

        V = Σ_s C(prefix_postings(s), 2)

    (both sides take prefixes under the symmetric Jaccard bound, so
    the volume is pairs WITHIN each prefix posting list). Same
    machinery as the containment dial (``_shingle_pair_dial``): V
    comes from one shingle-keyed aggregation over the ranked table
    the exact arm then consumes; exact (recall 1) while V/doc stays
    under the measured budget ``JACCARD_AUTO_MAX_PAIRS_PER_DOC``,
    capped-LSH candidates (exact verify, LSH recall) above it.
    Integer statistic ⇒ the oracle value-checks the dial decision
    AND the picked rows."""
    from rsbsa_etl_spark.params import JACCARD_AUTO_MAX_PAIRS_PER_DOC

    def volume(ranked: DataFrame) -> DataFrame:
        # p·(p−1) = 2·C(p, 2) against a doubled budget: the whole
        # comparison stays in BIGINT (dividing in either engine would
        # detour through doubles)
        p = F.count("*")
        return (
            ranked.where(_prefix_cond(threshold))
            .groupBy("shingle")
            .agg((p * (p - F.lit(1))).alias("v"))
        )

    return _shingle_pair_dial(
        docs, text_col, threshold, False, volume,
        2 * JACCARD_AUTO_MAX_PAIRS_PER_DOC, ngram_jaccard_pairs,
    )


def incremental_dedup_pairs(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    text_col: str = "text",
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """incremental dedup: each NEW document against the EXISTING
    corpus — the shape every production ingest pipeline runs (the
    new batch is small, the corpus is the 100 TB side), where a full
    corpus self-join per batch would be absurd.

    Bipartite prefix filtering (``prefix_filter_candidates_bipartite``)
    keeps the guarantee of the unary path — candidates are a
    deterministic superset of every cross pair with Jaccard ≥
    threshold — while the corpus is only ever *probed* by the new
    batch's prefixes, never self-joined. Verify is the same
    pair-local ``array_intersect``.

    Output: (new_doc_id, corpus_doc_id, jaccard), one row per
    qualifying cross pair. doc_id spaces must be disjoint (callers
    split one table or tag ids).
    """
    # persist PER SIDE: both the candidate pipeline (exploded view)
    # and the verify join (union) must read the cached sets — caching
    # only the union would re-run the corpus text scan + shingling
    # for the exploded views, doubling the dominant cost
    sets_new = doc_shingle_sets(new_docs, text_col).persist()
    sets_old = doc_shingle_sets(corpus_docs, text_col).persist()
    sets = sets_new.unionByName(sets_old)
    sh_new = sets_new.select("doc_id", F.explode("shingles").alias("shingle"))
    sh_old = sets_old.select("doc_id", F.explode("shingles").alias("shingle"))
    cand = prefix_filter_candidates_bipartite(sh_new, sh_old, threshold)
    inter = _pair_intersections(sets, cand)
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return inter.where(jac >= threshold).select(
        F.col("doc_a").alias("new_doc_id"),
        F.col("doc_b").alias("corpus_doc_id"),
        dec_round(jac, 4).alias("jaccard"),
    )


def novelty_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """per-document novelty: the fraction of a doc's distinct
    shingles whose FIRST corpus occurrence (minimum doc_id) is this
    doc — the dedup-aware curation signal ("how much does this doc
    add that earlier docs didn't?") used to rank near-duplicates and
    boilerplate below genuinely novel text.

    Scale shape: the posting list (doc, shingle) is aggregated twice
    and never self-joined —

    1. ``min(doc_id) per shingle`` (map-side partial min, one
       shuffle keyed by shingle);
    2. that first-occurrence table re-grouped by its winning doc
       (``n_novel`` per doc), shingle-count per doc alongside;
    3. one doc-level join of two doc-sized aggregates.

    The posting list itself is never joined against anything, so hot
    shingles cost only their partial-agg merge — no fan-out. All
    counts integer; the ratio is fixed-point rounded (scale 4).
    """
    # persisted: the posting list feeds two different grouping keys
    # (doc_id and shingle); without it the Arrow-batched shingle
    # generation runs twice over the corpus. Disk-spillable, dropped
    # with the session — same policy as the shared shingle set in
    # ngram_jaccard_pairs.
    ds = shingle_rows(docs, text_col).distinct().persist()
    per_doc = ds.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    first = ds.groupBy("shingle").agg(F.min("doc_id").alias("doc_id"))
    nov = first.groupBy("doc_id").agg(F.count("*").alias("n_novel"))
    return (
        per_doc.join(nov, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_shingles").cast("long").alias("n_shingles"),
            F.coalesce(F.col("n_novel"), F.lit(0)).cast("long").alias("n_novel"),
        )
        .withColumn(
            "novelty",
            dec_round(F.col("n_novel") / F.col("n_shingles"), 4),
        )
    )


def gram_position_rows(
    docs: DataFrame, text_col: str, k: int
) -> DataFrame:
    """shared k-gram kernel of the substring family
    (``duplicated_spans``, ``winnow_fingerprints``): fan out a
    few-split source to the cluster's slots (the gram join is the
    CPU-dense step and runs in the scan stage — measured 5x on the
    single-split fixture; no-op at real scale), then emit one
    (doc_id, pos, raw) row per k-token window. Single-sourced so
    the gram universe the two operators are documented to share —
    tokenization, window rendering, short-doc behavior — cannot
    drift between them. Hashing stays with the CALLER (md5 string
    vs u32 prefix) and runs as a codegen'd projection after the
    explode, per the duplicated_spans measurement."""
    sc = docs.sparkSession.sparkContext
    if docs.rdd.getNumPartitions() < sc.defaultParallelism:
        docs = docs.repartition(sc.defaultParallelism)
    toks = tokens_col(F.col(text_col))
    n = F.size(toks)
    grams = F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - F.lit(k - 1)),
            lambda i: F.array_join(F.slice(toks, i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return docs.select("doc_id", F.posexplode(grams).alias("pos", "raw"))


def _spans_from_marked(marked: DataFrame, kk: int) -> DataFrame:
    """shared gap-islands tail of the span family (``duplicated_
    spans`` / ``decontam_spans`` / ``intra_doc_duplicated_spans``):
    merge marked gram positions into maximal spans per doc — windows
    [p, p+k-1] and [p', p'+k-1] touch iff p' ≤ p + k, so a new span
    starts when this gram's window cannot touch the previous marked
    gram's window, guaranteeing contiguous token coverage inside each
    span. One per-doc window, parallel across docs; single-sourced so
    the three producers cannot drift on the merge rule or the output
    schema (doc_id, span_start, span_end, span_tokens — token
    offsets, end inclusive)."""
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = (
        marked.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "new_span",
            (F.col("prev").isNull() | (F.col("pos") > F.col("prev") + kk))
            .cast("int"),
        )
        .withColumn("span_id", F.sum("new_span").over(w))
    )
    return (
        islands.groupBy("doc_id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(kk - 1)).alias("span_end"),
        )
        .select(
            "doc_id",
            F.col("span_start").cast("long").alias("span_start"),
            F.col("span_end").cast("long").alias("span_end"),
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("span_tokens"),
        )
    )


def duplicated_spans(
    docs: DataFrame, text_col: str = "text", k: int | None = None
) -> DataFrame:
    """exact duplicated-SPAN detection — the substring-dedup signal
    of Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better"): every maximal token span in which EVERY TOKEN
    is covered by at least one k-gram that also occurs in another
    document. (Marked grams whose windows touch — start gap ≤ k —
    merge, so a span may contain interior k-grams that are
    themselves unique; what is guaranteed is contiguous coverage by
    shared grams, which is the region a pipeline flags for cutting.)
    Where the Jaccard family answers "are these two docs
    near-duplicates?", this answers "which exact regions of this doc
    are copied text?" — the unit a training-data pipeline actually
    cuts (Lee et al. remove the duplicated substrings, not whole
    documents).

    Distributed shape (their suffix array is a single-machine
    construction; the posting-list form below is the shuffle-native
    equivalent for fixed k):

    1. k-token grams with positions per doc — a pure array
       expression (no Python), linear in corpus tokens;
    2. gram → distinct-doc count via ONE partial-agg shuffle on the
       gram hash (the posting list; never a pairwise join);
    3. grams with df ≥ 2 flow back over the same hash partitioning
       (broadcast-less semi-join co-located with step 2's shuffle);
    4. per-doc gap-islands merge overlapping/adjacent marked grams
       (positions p, p' overlap iff p' ≤ p + k) into maximal spans —
       a per-doc window, parallel across docs.

    Output: (doc_id, span_start, span_end, span_tokens) in token
    offsets of the normalized text, span_end inclusive. A doc with
    no duplicated region emits nothing; whole-doc duplicates emit
    one full-length span (exact_dedup finds those cheaper — this
    operator exists for the partial overlaps exact_dedup misses).

    Grams are md5-hashed before the shuffle so the exchange carries
    16-byte keys instead of raw k-token strings; collisions would
    need 2^64 grams (birthday bound) — the standard fingerprint
    trade, and the same one the MinHash family already makes.

    Persist contract: the gram table stays cached after this returns
    (it feeds the posting-list count AND the position join-back; the
    result is lazy, so unpersisting here would defeat the reuse).
    Callers looping many queries should ``spark.catalog.clearCache()``
    between runs, as bench.py does.
    """

    from rsbsa_etl_spark.params import SPAN_NGRAM_K

    kk = SPAN_NGRAM_K if k is None else k
    # The gram construction is the one CPU-dense step and it runs in
    # the SCAN stage — before any exchange spreads work. Two
    # measured shapes matter (local[32], single-split sf0.1 fixture,
    # JIT-warm):
    # 1. hashing INSIDE the transform lambda is interpreted per
    #    element (~5x the cost of the same work in a codegen'd
    #    projection) — so the HOF only joins the k-token window
    #    strings, and md5 runs AFTER the explode as a plain
    #    projection, the same split shingle_rows uses;
    # 2. a small-file source serializes the scan stage on one core —
    #    fan out first when the source delivers fewer splits than
    #    the cluster has slots (no-op at real scale, where
    #    files.maxPartitionBytes yields enough splits).
    # the gram table feeds two consumers (posting-list counts and
    # the position join-back); persist so the construction runs
    # once — same persist contract as doc_shingle_sets in the
    # containment path (callers looping queries clearCache between
    # runs; MEMORY_AND_DISK evicts gracefully)
    g = (
        gram_position_rows(docs, text_col, kk)
        .select("doc_id", "pos", F.md5("raw").alias("gram"))
        .persist()
    )
    # posting list: distinct docs per gram (partial agg both levels)
    df_counts = (
        g.select("gram", "doc_id")
        .distinct()
        .groupBy("gram")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
    )
    marked = g.join(df_counts.select("gram"), "gram")
    return _spans_from_marked(marked, kk)


def decontam_spans(
    docs: DataFrame, text_col: str = "text", k: int | None = None
) -> DataFrame:
    """span-level benchmark DECONTAMINATION (round 12): every maximal
    token span of a TRAINING document contiguously covered by k-grams
    that also occur in the EVAL set (``doc_id < P.EVAL_DOC_MAX`` —
    the decontam family's held-out convention). Where
    ``decontam_overlap`` answers "how contaminated is this doc?"
    (a fraction, for drop decisions), this answers "WHICH exact
    regions leak the benchmark?" — the unit a surgical pipeline cuts
    so the rest of the document stays in the corpus (the Lee et al.
    2022 cut-the-substring discipline applied to eval leakage;
    ``cut_duplicated_spans`` consumes exactly this span schema).

    Same distributed shape as ``duplicated_spans`` with the posting
    list replaced by the eval gram SET: one shared gram kernel
    (``gram_position_rows`` — tokenization and window rendering
    single-sourced), the eval side distinct-ed (eval sets are
    thousands of docs, so the semi-join side stays small and
    co-partitions on the gram hash), the train side marked by one
    equi-join, then the per-doc gap-islands window. Output:
    (doc_id, span_start, span_end, span_tokens), token offsets of
    the normalized text, end inclusive — training docs only.

    Persist contract: the gram table stays cached after this returns
    (it feeds the eval set AND the train mark); loop-running callers
    clearCache between runs, as bench.py does.
    """

    from rsbsa_etl_spark.params import EVAL_DOC_MAX, SPAN_NGRAM_K

    kk = SPAN_NGRAM_K if k is None else k
    g = (
        gram_position_rows(docs, text_col, kk)
        .select("doc_id", "pos", F.md5("raw").alias("gram"))
        .persist()
    )
    eval_grams = (
        g.where(F.col("doc_id") < EVAL_DOC_MAX).select("gram").distinct()
    )
    marked = g.where(F.col("doc_id") >= EVAL_DOC_MAX).join(
        eval_grams, "gram"
    )
    return _spans_from_marked(marked, kk)


def intra_doc_duplicated_spans(
    docs: DataFrame, text_col: str = "text", k: int | None = None
) -> DataFrame:
    """WITHIN-document repeated-span detection — the intra-doc
    complement of ``duplicated_spans``: every maximal token span
    contiguously covered by k-grams that occur MORE THAN ONCE in the
    SAME document. Cross-doc dedup (the posting-list form) marks a
    gram when it appears in ≥2 documents and by construction never
    sees template loops, repeated boilerplate headers, or copy-paste
    stutter INSIDE one document — the pattern quality filters score
    (``repetition_score``) but cannot localize. This emits the exact
    regions, in the same (doc_id, span_start, span_end, span_tokens)
    schema the span family's cut kernel (``apply_span_cut``)
    consumes, so intra-doc repeats can be cut surgically like any
    other span.

    Distributed shape: the shared gram kernel
    (``gram_position_rows`` — tokenization/windowing single-sourced
    with the rest of the span family), then ONE partial-agg shuffle
    keyed on (doc_id, gram) — strictly finer-grained than the
    cross-doc form's gram key, so skew is bounded by document length
    rather than corpus-wide gram popularity — and a join back over
    the same partitioning, then the per-doc gap-islands window.
    Linear in corpus tokens; no pairwise stage anywhere.

    Persist contract: the gram table stays cached after this returns
    (it feeds the repeat count AND the position join-back);
    loop-running callers clearCache between runs, as bench.py does.
    """

    from rsbsa_etl_spark.params import SPAN_NGRAM_K

    kk = SPAN_NGRAM_K if k is None else k
    g = (
        gram_position_rows(docs, text_col, kk)
        .select("doc_id", "pos", F.md5("raw").alias("gram"))
        .persist()
    )
    rep = (
        g.groupBy("doc_id", "gram")
        .agg(F.count("*").alias("n_occ"))
        .where(F.col("n_occ") >= 2)
        .select("doc_id", "gram")
    )
    marked = g.join(rep, ["doc_id", "gram"])
    return _spans_from_marked(marked, kk)


def cut_intra_doc_spans(
    docs: DataFrame, text_col: str = "text", k: int | None = None
) -> DataFrame:
    """APPLY the within-document dedup: remove every intra-doc
    repeated span ``intra_doc_duplicated_spans`` detects and
    reassemble the cleaned text (md5 value-checked) — completing the
    span family's detect/cut symmetry (cross-doc, eval-leak, and
    intra-doc each have both arms, all through the ONE
    ``apply_span_cut`` kernel). Note the family's cut-everything-
    covered convention: both occurrences of a repeated gram are
    covered, so a pure repeat is removed entirely, not deduplicated
    to one copy — the boilerplate-loop treatment, matching
    ``cut_duplicated_spans``' behavior on whole-doc duplicates."""
    return apply_span_cut(
        docs, intra_doc_duplicated_spans(docs, text_col, k), text_col
    )


def winnow_fingerprints(
    docs: DataFrame, text_col: str = "text", k: int | None = None,
    w: int | None = None,
) -> DataFrame:
    """winnowing document fingerprints (Schleimer, Wilkerson &
    Aiken 2003 — the MOSS algorithm): from each window of ``w``
    consecutive k-gram hashes, keep the RIGHTMOST MINIMAL hash.
    The selected set is a ~2/(w+1)-density sample of the gram
    stream with the winnowing guarantee: any shared run of at
    least ``k + w − 1`` tokens between two documents shares at
    least one fingerprint. This is the sparse counterpart of
    ``duplicated_spans``' dense posting list — same gram universe
    (``SPAN_NGRAM_K``, md5-hashed), a w-th of the index volume.

    Output per document (docs with fewer than ``k + w − 1`` tokens
    have no full window and emit nothing): ``n_windows``,
    ``n_fp`` (distinct selected (position, hash) fingerprints),
    ``n_shared_fp`` (how many of the doc's distinct fingerprint
    hashes were also selected by some other document — the
    plagiarism/near-dup signal).

    Determinism & engines: the per-window argmin is computed on one
    orderable integer ``h·2^31 − pos`` (h is the md5-prefix u32, so
    the product stays < 2^63): its window MIN is exactly "min hash,
    ties → rightmost", and (h, pos) decode back by exact integer
    division — no structs, no floats, same arithmetic in SQL.

    Scale: gram hashing is narrow (the dedup_spans split: HOF joins
    strings, md5 runs codegen'd after the explode); the only
    corpus-sized shuffles are the per-doc ordering window and the
    fingerprint distinct — both keyed by doc_id/hash with doc-
    bounded groups. The shared-hash posting table is
    fingerprint-sized (w-fold smaller than the gram posting list —
    the point of winnowing at 100 TB).
    """
    from pyspark.sql import Window

    from rsbsa_etl_spark.params import SPAN_NGRAM_K, WINNOW_W

    kk = SPAN_NGRAM_K if k is None else k
    ww = WINNOW_W if w is None else w
    B = 1 << 31

    g = gram_position_rows(docs, text_col, kk).select(
        "doc_id",
        "pos",
        hex_bigint(F.md5("raw")).alias("h"),
    )
    combined = (F.col("h") * F.lit(B) - F.col("pos")).cast("long")
    frame = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(ww - 1), 0)
    )
    wins = (
        g.withColumn("sel", F.min(combined).over(frame))
        .where(F.col("pos") >= ww - 1)
        .select("doc_id", "sel")
    )
    # distinct selected (pos, hash) per doc — `sel` encodes both.
    # The decoded fingerprint table feeds three consumers (per-doc
    # totals, the posting table, the share join-back); persist so
    # the gram scan + ordering window run ONCE — the duplicated_
    # spans persist contract (callers looping queries clearCache
    # between runs, as bench.py does). The cached table is
    # fingerprint-sized: ~2/(w+1) of the gram stream.
    fps = wins.groupBy("doc_id", "sel").agg(
        F.count("*").cast("long").alias("n_wins")
    )
    decoded = fps.select(
        "doc_id",
        "n_wins",
        F.expr(f"CAST((sel + {B - 1}) DIV {B} AS BIGINT)").alias("fp_h"),
    ).persist()
    # posting table over fingerprint hashes (fingerprint-sized)
    doc_h = decoded.select("doc_id", "fp_h").distinct()
    shared = (
        doc_h.groupBy("fp_h")
        .agg(F.count("*").alias("n_docs"))
        .where(F.col("n_docs") >= 2)
        .select("fp_h")
    )
    share_counts = (
        doc_h.join(shared, "fp_h")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_shared_fp"))
    )
    per_doc = decoded.groupBy("doc_id").agg(
        F.sum("n_wins").cast("long").alias("n_windows"),
        F.count("*").cast("long").alias("n_fp"),
    )
    return per_doc.join(share_counts, "doc_id", "left").select(
        "doc_id",
        "n_windows",
        "n_fp",
        F.coalesce(F.col("n_shared_fp"), F.lit(0))
        .cast("long")
        .alias("n_shared_fp"),
    )


def cut_duplicated_spans(
    docs: DataFrame, text_col: str = "text", k: int | None = None
) -> DataFrame:
    """APPLY the substring dedup: remove every duplicated span
    ``duplicated_spans`` detects and reassemble the cleaned text —
    the actionable half of Lee et al. 2022 (they cut the duplicated
    substrings, not whole documents). Output per doc:
    (doc_id, n_tokens, n_kept, clean_md5) — the md5 stands in for
    the cleaned text so result rows stay small while the WHOLE
    cleaned string is still value-checked byte-for-byte.

    Spans are maximal and disjoint by construction, so the kept-token
    filter is one pass: token position i survives iff no span covers
    it (a two-arg HOF lambda over the collected per-doc span list —
    span lists are doc-bounded). Docs with no duplicated region pass
    through unchanged (left join; NULL span list → keep all).

    Scale: ``duplicated_spans``' posting-list machinery is the cost;
    the cut itself adds one doc-keyed aggregation of the span rows
    (output-sized) and a narrow per-doc array filter. Shares the
    persisted gram table with the detection pass (its documented
    cache contract).
    """
    return apply_span_cut(docs, duplicated_spans(docs, text_col, k), text_col)


def apply_span_cut(
    docs: DataFrame, spans: DataFrame, text_col: str = "text"
) -> DataFrame:
    """shared CUT kernel of the span family: given any span table in
    the (doc_id, span_start, span_end) schema — duplicated spans,
    eval-leak decontam spans — drop every covered token and
    reassemble the cleaned text. Single-sourced so the two cut
    operators (``cut_duplicated_spans``, ``cut_decontam_spans``)
    cannot drift on tokenization, NULL handling, or the kept-token
    filter; the detection pass is the caller's choice.

    Spans are maximal and disjoint by construction in every producer,
    so the kept-token filter is one pass: token position i survives
    iff no span covers it (a two-arg HOF lambda over the collected
    per-doc span list — span lists are doc-bounded). Docs with no
    flagged region pass through unchanged (left join; NULL span list
    → keep all). Output per doc: (doc_id, n_tokens, n_kept,
    clean_md5) — the md5 stands in for the cleaned text so result
    rows stay small while the WHOLE cleaned string is still
    value-checked byte-for-byte.

    Scale: the detection pass is the cost; the cut adds one
    doc-keyed aggregation of the span rows (output-sized) and a
    narrow per-doc array filter — no extra corpus shuffle beyond the
    doc-keyed join, which co-partitions with the span aggregation.
    """
    per_doc = spans.groupBy("doc_id").agg(
        F.collect_list(
            F.struct(
                F.col("span_start").alias("s"), F.col("span_end").alias("e")
            )
        ).alias("sp")
    )
    toks = tokens_col(F.col(text_col))
    # NULL text has no tokens to cut (size(NULL) would also read -1
    # under legacy Spark where the oracle reads NULL) — absent docs
    # are absent from the cleaned corpus in both engines
    j = (
        docs.where(F.col(text_col).isNotNull())
        .select("doc_id", toks.alias("toks"))
        .join(per_doc, "doc_id", "left")
    )
    kept = F.when(F.col("sp").isNull(), F.col("toks")).otherwise(
        F.filter(
            F.col("toks"),
            lambda t, i: ~F.exists(
                F.col("sp"),
                lambda r: (i >= r["s"]) & (i <= r["e"]),
            ),
        )
    )
    return j.select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        F.md5(F.array_join(kept, " ")).alias("clean_md5"),
    )


def cut_decontam_spans(
    docs: DataFrame, text_col: str = "text", k: int | None = None
) -> DataFrame:
    """APPLY the span-level decontamination: remove every eval-leak
    span ``decontam_spans`` detects from the TRAINING documents and
    reassemble the cleaned text — the Lee et al. 2022 cut-the-
    substring discipline applied to benchmark leakage, completing the
    decontam family's drop-vs-cut axis (``decontam_ngram`` et al.
    decide drops; this performs the surgical cut that keeps the rest
    of the document in the corpus). Output covers training docs only
    (``doc_id >= P.EVAL_DOC_MAX``): eval docs are held out, not
    corpus members, so they have no cleaned form. Shares the cut
    kernel with ``cut_duplicated_spans`` (``apply_span_cut``) and the
    persisted gram table with the detection pass — detection is the
    cost; the cut is output-sized."""
    from rsbsa_etl_spark.params import EVAL_DOC_MAX

    return apply_span_cut(
        docs.where(F.col("doc_id") >= EVAL_DOC_MAX),
        decontam_spans(docs, text_col, k),
        text_col,
    )


def dedup_recall_eval(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """recall/precision of the MinHash-LSH candidate generator
    against the EXACT Jaccard truth — the dedup-family counterpart
    of ``ann_recall``: before trusting banded LSH on a 100 TB
    corpus, measure how much of the true near-duplicate pair set
    its band collisions surface, and how much noise rides along.
    Both sides are this repo's own verified constructions (the
    prefix-filter exact pairs at ``JACCARD_THRESHOLD``; the banded
    candidate pairs), so the metric itself is deterministic and
    value-checked — the property that makes an index eval
    trustworthy rather than anecdotal.

    Output (one row): n_true, n_candidates, n_hit, recall,
    precision — ratios as exact integer divisions rounded at 1e-6.

    Scale: the two pair generators are the already-scale-shaped
    plans, with the LSH side fed from one persisted shingle stream
    instead of its own corpus re-scan; the eval is ONE union +
    pair-keyed flag sum over the (output-sized) pair sets — no set
    join anywhere. Both generators emit the shared canonical
    (doc_a < doc_b) ordering, which is what makes the flag sum a
    set compare.
    """
    # share the exploded shingle pass: minhash consumes the same
    # (doc_id, shingle) stream the corpus yields once (persisted —
    # the repo's cache contract; without this the LSH side re-scans
    # and re-hashes the whole corpus). The exact side keeps its own
    # array-form doc_shingle_sets path by measured design.
    sh = shingle_rows(docs, text_col).persist()
    true_pairs = ngram_jaccard_pairs(docs, text_col).select(
        "doc_a", "doc_b", F.lit(1).alias("src")
    )
    cand = minhash_candidate_pairs(docs, text_col, shingles=sh).select(
        "doc_a", "doc_b", F.lit(2).alias("src")
    )
    # one union + one pair-keyed sum instead of a set join: per-pair
    # flag 1 = true-only, 2 = candidate-only, 3 = both — a single
    # shuffle over the (small, output-sized) pair sets, no SMJ
    flags = (
        true_pairs.unionByName(cand)
        .groupBy("doc_a", "doc_b")
        .agg(F.sum("src").alias("s"))
    )
    out = flags.agg(
        F.count(F.when(F.col("s").isin(1, 3), 1))
        .cast("long")
        .alias("n_true"),
        F.count(F.when(F.col("s").isin(2, 3), 1))
        .cast("long")
        .alias("n_candidates"),
        F.count(F.when(F.col("s") == 3, 1)).cast("long").alias("n_hit"),
    )
    return out.select(
        "n_true",
        "n_candidates",
        "n_hit",
        dec_round(
            F.when(
                F.col("n_true") != 0,
                F.col("n_hit").cast("double") / F.col("n_true"),
            ),
            6,
        ).alias("recall"),
        dec_round(
            F.when(
                F.col("n_candidates") != 0,
                F.col("n_hit").cast("double") / F.col("n_candidates"),
            ),
            6,
        ).alias("precision"),
    )
