"""Shared, deterministic query parameters.

Both the PySpark queries and the DuckDB oracle SQL strings are built
from these constants, so the two sides can never drift. Keys are
chosen to exist at every fixture scale factor (keys are dense,
0-based at all SFs — verified in TESTDATA).
"""

from __future__ import annotations

from fractions import Fraction as _Fraction

#: IN-list of order keys for keyed scans (S1/P3) — mirrors the
#: reference's driver-collected key-list pattern
#: (``services/etlService.js:29,35``: ``WHERE rsbsa_no IN (?)``).
ORDER_KEYS = tuple(range(10, 910, 9))  # 100 keys, present at sf0.001+

#: customer keys driving the bridge two-step join (J1).
CUST_KEYS = tuple(range(5, 505, 5))  # 100 keys

#: change-log watermark analog: process events with event_id > this
#: (``log_id > last_watermark``, SURVEY §3.1). Half the sf0.001
#: events table, so the incremental scan is non-trivial at every SF.
WATERMARK_EVENT_ID = 500

#: pagination window (O2): page 3 of 100 rows, ordered by event_id.
PAGE_SIZE = 100
PAGE_OFFSET = 200

#: top-k recency (O3): last N events, newest first (``index.js:237``).
TOPK_N = 100

#: orders subset treated as the "existing target" for semi/anti/upsert
#: (K2/K3): high-value finished orders. The conjunction makes ~30% of
#: customers "existing" — both semi and anti sides are non-trivial at
#: every SF (verified: 45/105 at sf0.001, 416/1084 at sf0.01).
TARGET_PRICE_MIN = 450_000.0
TARGET_STATUS = "F"

#: updates side for upsert: even order keys (deterministic).
UPSERT_KEY_MOD = 2

#: session gap for sessionization (extension surface), seconds.
SESSION_GAP_S = 1_800

#: near-dup thresholds. Cosine: fixture embeddings are near-uniform
#: (max pairwise sim ≈ 0.51), so the near-dup bar sits at the top of
#: the observed distribution. SimHash: the word-soup corpus shares
#: one small vocabulary, so token-set signatures are genuinely close;
#: 32 bits + Hamming ≤ 2 keeps the pair set selective (~9 k pairs).
JACCARD_THRESHOLD = 0.6
COSINE_THRESHOLD = 0.42
SIMHASH_BITS = 32
SIMHASH_MAX_HAMMING = 2

#: MinHash parameters (portable construction — same algorithm
#: expressible in DuckDB SQL for the oracle). One md5 per shingle
#: supplies two 32-bit chunks (h1, h2); each permutation is the
#: universal hash (h1·a + h2·b + c) mod M. Coefficients are fixed
#: odd constants < 2^29 so every product stays < 2^61 — safe under
#: ANSI (no silent wraparound, no overflow error) and identical in
#: 64-bit integer SQL.
MINHASH_PERMS = 16


def minhash_geometry(
    threshold: _Fraction,
    perms: int,
    fp_sim: _Fraction,
    fp_budget: _Fraction,
) -> tuple[int, int]:
    """(bands, rows) DERIVED from the threshold — the recall-axis
    twin of the measured cost dials (r14 verdict item 4): the banded
    S-curve's miss probability at Jaccard ``t`` is exactly
    ``(1 - t^rows)^bands``, a rational number when ``t`` is — no
    measurement needed, the bound is computable in exact integer
    arithmetic. Enumerate every geometry within the signature-size
    budget (``bands·rows ≤ perms`` — signature cost is the perms,
    band count is free re-hashing) and pick the one minimizing the
    expected miss AT the configured threshold, subject to the
    precision guard ``P(collide at fp_sim) ≤ fp_budget`` (without
    it the optimum degenerates to rows=1, which collides on ANY
    shared shingle — the false-positive axis is what rows buy).
    Ties break toward fewer rows (cheaper banding). All arithmetic
    is exact ``Fraction``s, so the pick is reproducible bit-for-bit
    on any host and the bound recorded in SCALING.md is exact, not
    a float estimate. Raises when no geometry meets the precision
    guard inside the budget (raise perms)."""
    best: tuple[_Fraction, int, int] | None = None
    for rows in range(1, perms + 1):
        for bands in range(1, perms // rows + 1):
            fp = 1 - (1 - fp_sim**rows) ** bands
            if fp > fp_budget:
                continue
            miss = (1 - threshold**rows) ** bands
            cand = (miss, rows, bands)
            if best is None or cand < best:
                best = cand
    if best is None:
        raise ValueError(
            f"no (bands, rows) within {perms} perms meets "
            f"P(collide @ {fp_sim}) <= {fp_budget}"
        )
    return best[2], best[1]


def minhash_miss_bound(
    threshold: _Fraction | None = None,
    bands: int | None = None,
    rows: int | None = None,
) -> _Fraction:
    """exact S-curve false-negative probability (1 − t^rows)^bands
    of the configured geometry at the configured threshold — the
    recall floor 1−bound that ``dedup_recall``'s measurement is
    checked against (each true pair at Jaccard j collides with
    probability 1−(1−j^rows)^bands ≥ 1−bound for j ≥ t)."""
    t = JACCARD_THRESHOLD_FRAC if threshold is None else threshold
    b = MINHASH_BANDS if bands is None else bands
    r = (MINHASH_PERMS // MINHASH_BANDS) if rows is None else rows
    return (1 - t**r) ** b


#: the exact-rational form of JACCARD_THRESHOLD (the float is what
#: the SQL strings embed; the Fraction is what the geometry
#: derivation computes with — asserted equal below so they can't
#: drift).
JACCARD_THRESHOLD_FRAC = _Fraction(3, 5)
assert float(JACCARD_THRESHOLD_FRAC) == JACCARD_THRESHOLD

#: precision guard for the geometry derivation: a background
#: (clearly-not-duplicate) pair at Jaccard = threshold/2 may land in
#: a shared band bucket with probability ≤ 5%. This is the
#: candidate-volume axis: at 100 TB the candidate count is
#: n_pairs(j≈fp_sim)·P(collide@fp_sim), and the sub-threshold mass
#: dominates the pair count, so the guard bounds LSH's output
#: volume; the bucket cap (below) then guards the residual skew.
MINHASH_FP_SIM = _Fraction(3, 10)
MINHASH_FP_BUDGET = _Fraction(1, 20)

#: band geometry — DERIVED, not hard-coded (r15): 4 bands × 4 rows
#: is the exact-arithmetic optimum for 16 perms at t=3/5 under the
#: 5%-at-0.3 precision guard (miss bound (544/625)^4 ≈ 0.574 at
#: exactly-threshold pairs; see SCALING.md "minhash geometry" for
#: the full feasibility table). The derivation reproducing the
#: historical constant means every existing key stays bit-stable.
MINHASH_BANDS, MINHASH_ROWS = minhash_geometry(
    JACCARD_THRESHOLD_FRAC, MINHASH_PERMS, MINHASH_FP_SIM, MINHASH_FP_BUDGET
)
#: the banding code slices the signature into contiguous rows-sized
#: chunks, so the derived geometry must tile the signature exactly
assert MINHASH_ROWS == MINHASH_PERMS // MINHASH_BANDS

SHINGLE_K = 3  # word shingles
MINHASH_MOD = (1 << 61) - 1  # Mersenne prime 2^61-1
#: skew guard for LSH: band buckets holding more than this many docs
#: are dropped before pair generation (boilerplate superbuckets are
#: pure noise and quadratic cost). 2 is tuned to the synthetic
#: fixture's bucket distribution so tests exercise the drop path; a
#: web-corpus deployment uses O(100-1000).
MINHASH_BUCKET_CAP = 2

#: containment near-dup threshold: a doc counts as contained when
#: ≥ this fraction of its distinct shingles occur in the container
#: (``dedup_containment`` and its capped/auto siblings).
CONTAINMENT_THRESHOLD = 0.8

#: containment auto-dial budget: keep the exact (full-recall) prefix
#: join while its exact pre-prune cardinality V = Σ_s prefix(s)·full(s)
#: stays ≤ this × n_docs; above it switch to the capped-LSH candidate
#: arm. Set from the r14 wall-clock crossover measurement (SCALING.md
#: "containment auto-dial"): V/doc 12.1 → exact wins (2.5 s vs
#: 3.0 s, sf0.01); 72.6 → capped wins (3.9 s vs 2.5 s, sf0.1);
#: 955.7 → capped by 15× (57.8 s vs 3.8 s, generated sf1). 40 sits
#: in the measured gap: the driver gate (sf0.01) keeps the
#: full-recall exact arm, density from sf0.1 upward takes the dial.
#: V/doc is scale-free by design — it bounds the exact join at
#: `budget` rows PER DOC, i.e. linear in corpus size, so a huge
#: corpus with sparse shingles (zipf1: 50 k docs, V/doc 12.4)
#: correctly stays exact; the dial guards the superlinear
#: posting-density blowup, not constant factors.
CONTAINMENT_AUTO_MAX_PAIRS_PER_DOC = 40

#: knn-graph auto-dial budget: keep the exact tiled all-pairs graph
#: (full recall) while the corpus holds ≤ this many vectors; above
#: it take the IVF arm (O(n^1.5·nprobe) vs O(n²/tiles)). Set from
#: the r14 wall-clock crossover (SCALING.md "knn_graph auto-dial"):
#: exact wins at 2k (1.6 s vs 2.1 s) and 5k (1.6 s vs 2.8 s), loses
#: at 10k (3.3 s vs 3.0 s) and 20k (6.2 s vs 3.7 s) — 8000 sits in
#: the gap, conservative toward full recall. The law (n² vs
#: n^1.5·nprobe) is host-independent; the constant was measured on
#: local[32] and a cluster deployment should re-measure it.
KNN_GRAPH_AUTO_MAX_VECTORS = 8000

#: embedding-dedup auto-dial budget: keep the exact tiled all-pairs
#: cosine join (full recall) while the corpus holds ≤ this many
#: vectors; above it take the SemDeDup cluster-then-prune arm
#: (linear — no pairwise stage). Set from the r15 wall-clock
#: crossover (SCALING.md "embedding-dedup auto-dial"): exact wins at
#: 2k (0.85 s vs 0.93 s) and 5k (0.65 s vs 0.85 s), loses at 10k
#: (1.20 s vs 0.74 s), 20k (1.53 s vs 0.76 s), and 40k by 11×
#: (16.0 s vs 1.45 s) — 8000 sits in the measured 5k→10k gap,
#: conservative toward the full-recall arm, and matches
#: KNN_GRAPH_AUTO_MAX_VECTORS (same kernel class: the corpus-size
#: axis on an n²/tiles BLAS join vs a subquadratic alternative).
#: The law is host-independent; the constant is local[32]-measured
#: and a cluster deployment re-measures it.
DEDUP_EMBEDDING_AUTO_MAX_VECTORS = 8000

#: Jaccard auto-dial budget (the symmetric sibling of the
#: containment budget): keep the exact AllPairs prefix join while
#: V = Σ_s C(prefix_postings(s), 2) stays ≤ this × n_docs. Measured
#: r14 (SCALING.md "jaccard auto-dial"): V/doc 1.3 → exact wins
#: (2.3 s vs 2.9 s); 62.5 → tie (2.57 s vs 2.60 s); 872 → capped by
#: 12× (47.5 s vs 4.0 s). 150 sits above the measured tie (full
#: recall is the right pick at equal cost) and far below the blowup.
JACCARD_AUTO_MAX_PAIRS_PER_DOC = 150

#: Theil–Sen skew auto-dial budget: keep the exact every-pair arm
#: while NO user holds more than this many points — the exact arm's
#: distributed wall is the hottest user's single task, C(max_n, 2)
#: pairs. Measured r14 (SCALING.md "theil-sen skew auto-dial"):
#: exact rides flat at max_n 3 000 (3.7 s) and hits the quadratic
#: wall at 10 000 (53 s, one ~50M-pair task); the capped arm stays
#: ~1 s throughout. 5000 sits in the measured gap.
THEIL_SEN_AUTO_MAX_POINTS_PER_USER = 5000

#: per-user sample cap of the capped Theil–Sen arm: ≤ this many
#: events per user (hash-min sample), so ≤ C(32, 2) = 496 slope
#: pairs per user whatever the activity skew.
THEIL_SEN_CAP = 32

MINHASH_COEFFS = tuple(
    (
        ((p * 2654435761 + 1) % (1 << 29)) | 1,
        ((p * 40503 + 2654435769) % (1 << 29)) | 1,
        p * 97 + 13,
    )
    for p in range(MINHASH_PERMS)
)

#: watermark / late-data replay (stream_late_drop): phase-1 ends at
#: the split; stragglers (event_id % mod == 0, ts ≤ split) arrive in
#: phase 2, out of order. Events span 2024-01-01..30 at every SF.
STREAM_SPLIT_TS = "2024-01-16 00:00:00"
STREAM_STRAGGLER_MOD = 11
STREAM_WM_DELAY_HOURS = 48

#: eviction-mode stream-stream join (stream_join_evicting): phase-1
#: clicks are ``event_id % mod == 0`` (spanning the whole fixture
#: window, so the committed watermark lands inside the data span);
#: the shrunk delay makes phase-2 late clicks actually drop.
STREAM_EVICT_PHASE_MOD = 5
STREAM_EVICT_DELAY_DAYS = 3

#: ANN parameters
ANN_QUERY_IDS = (0, 1, 2, 3, 4)
ANN_TOP_K = 10
LSH_SIGN_DIMS = 6  # sign-LSH bucket bits → 2^N buckets
#: width of the deterministic Hadamard-row mix applied before each
#: sign bit: bit i = sign(Σ_j ±v[j], j < LSH_MIX_WIDTH) with the ±1
#: pattern from Hadamard row i+1 (parity of popcount(row & j), row 0
#: — the all-ones DC row — skipped). Mixing decorrelates buckets
#: from the corpus's leading-dimension cluster structure, which is
#: what held raw axis-sign LSH to 0.1-0.5 recall; the rows are
#: mutually orthogonal, so this is an honest random-hyperplane
#: family while staying deterministic and SQL-portable.
LSH_MIX_WIDTH = 16
#: multiprobe radius: probe every bucket within this Hamming
#: distance of the query's bucket. The corpus's true top-10
#: neighbors sit at cosine 0.30-0.42 (θ ≈ 65-72°), so the
#: random-hyperplane agreement probability per bit is only ~0.63 and
#: the EXPECTED recall of any 6-bit family is ~0.25 at radius 1 and
#: ~0.57 at radius 2 — radius 2 (22 of 64 buckets per query) is the
#: honest recall/cost point for this geometry; the eval's IVF row
#: shows what a cluster-aligned index buys instead.
LSH_PROBE_HAMMING = 2


def hadamard_sign(row: int, j: int) -> int:
    """±1 entry (row, j) of the Sylvester–Hadamard matrix: +1 when
    popcount(row & j) is even. Shared by the Spark expression and
    the DuckDB oracle so both mix identically."""
    return -1 if bin(row & j).count("1") % 2 else 1
IVF_CENTROIDS = 16  # IVF cells (deterministic init: first N vec_ids)
#: cells probed per query — picked from the round-9 two-geometry
#: recall curve (SCALING.md, tools/measure_recall.py): at 20k vectors
#: / 141 cells, graph recall@10 at nprobe 4/8/16/32 is
#: 0.19/0.30/0.46/0.66 on ISOTROPIC vectors (the adversarial floor)
#: and 0.66/0.78/0.88/0.95 on a Zipf-weighted 200-cluster mixture
#: (the realistic geometry). 8 is the knee: +0.12 clustered recall
#: over 4 for 2× probe work (wall within noise at 20k), while 16
#: buys the next +0.10 only at another 2×. Work ∝ nprobe, so this
#: stays the documented cost/recall dial for callers.
IVF_NPROBE = 8
PQ_SUBSPACES = 4  # product-quantization subspaces (64 dims -> 4x16)
#: embedding_outliers flags a vector when its mean top-k neighbor
#: cosine falls below this percentage of the corpus-wide mean — a
#: relative gate, since absolute neighborhood tightness shifts with
#: corpus size (measured: median mean-kNN-cosine 0.296 at sf0.01 vs
#: 0.350 at sf0.1). Compared in exact integer arithmetic.
OUTLIER_PCT_OF_MEAN = 85
PQ_CODEWORDS = 16  # codewords per subspace (deterministic init: first N vec_ids)


def sql_in_list(values) -> str:
    """Render an IN-list for oracle SQL."""
    return ", ".join(str(v) for v in values)

#: count-min sketch shape (depth reuses the first `depth` minhash
#: Carter-Wegman coefficient triples so the oracle shares them).
CMS_DEPTH = 4
CMS_WIDTH = 1024

#: value bands for the range join: (band_id, lo, hi), lo ≤ v < hi.
#: Deliberately non-uniform widths (so bin bucketing is exercised)
#: and a gap above 200 (so some fact rows match no band).
VALUE_BANDS = (
    (0, 0.0, 10.0),
    (1, 10.0, 25.0),
    (2, 25.0, 60.0),
    (3, 60.0, 120.0),
    (4, 120.0, 200.0),
)
#: bin width for bucketing the range join into an equi join.
RANGE_BIN_W = 16.0

#: histogram bin width for the quantile sketch (events.value spans
#: ~0..500 → ~62 bins; estimate error ≤ width by construction).
QSKETCH_WIDTH = 8.0

#: token-window chunking (udtf_chunk_tokens): window size and stride
#: in whitespace tokens — overlapping context windows, the standard
#: LLM-training document chunking shape.
CHUNK_WINDOW = 32
CHUNK_STRIDE = 24

# ---------------------------------------------------- curation (functions/curation.py)

#: decontamination eval set: docs with doc_id below this stand in
#: for the held-out benchmark; present at every SF (≥500 docs).
EVAL_DOC_MAX = 32
#: contamination flag threshold, percent of shingles hitting the
#: eval set (integer percent → pure-integer comparison, no floats).
DECONTAM_PCT = 25
#: fuzzy decontamination flags a training doc when an eval doc's
#: shingle set is ≥ this contained in it (near-verbatim inclusion
#: survives small edits that break exact n-gram overlap)
DECONTAM_FUZZY_THRESHOLD = 0.8

#: sequence-packing block capacity in whitespace tokens. Docs
#: average ~56 tokens, so blocks pack ~9 docs and straddling is
#: common at every SF.
PACK_CAPACITY = 512

#: sub-document dedup: non-overlapping segment width (tokens).
#: Docs average ~56 tokens -> ~4 segments; the small word-salad
#: vocabulary makes cross-doc repeated segments common at every SF.
SEG_TOKENS = 16

#: token-budget sampling: hash-shuffled docs are taken until the
#: running token total reaches this budget. Docs average ~56 tokens,
#: so the sample holds ~214 docs — non-trivial yet bounded at every
#: SF (the whole point of a budget: output size is budget-shaped,
#: not corpus-shaped).
TOKEN_BUDGET = 12_000
#: coarse prefix-sum buckets for the distributed running total: the
#: priority hash's top bits (bucket = pri >> 26 over a 32-bit hash,
#: so bucket order == priority order). 64 buckets bound the
#: second-pass offset table to 64 rows at any corpus size.
BUDGET_BUCKET_SHIFT = 26

#: exact per-group sample size (group_sample_n). The operator is the
#: plain ranked window on purpose — Catalyst's WindowGroupLimit
#: already performs the two-level map-side top-N (see SCALING.md).
GROUP_SAMPLE_N = 50

#: one BPE counting round: top adjacent character pairs kept.
BPE_TOPK = 20

#: KMV merge demo: sketch size per shard, over the 3-word-shingle
#: universe (~27k distinct at sf0.1; the flat token vocabulary is
#: only ~31 strings). Far below the universe so the estimator is
#: genuinely approximate (observed ~7 % error) rather than falling
#: back to exact counts.
SKETCH_MERGE_K = 256

#: fixed-size deterministic sample: document count drawn by smallest
#: salted hash (top-N, not a fraction — the "give me exactly N eval
#: docs" primitive).
SAMPLE_N = 200

#: burst detection: trailing comparison window (hours), the integer
#: rate multiple that flags a burst, and the noise floor (bins with
#: fewer events are never flagged regardless of the ratio).
BURST_WINDOW_H = 24
BURST_FACTOR = 2
BURST_MIN = 5

#: compaction planning: target output-shard payload (chars, standing
#: in for bytes). Docs average ~128 chars, so shards pack ~32 files.
COMPACT_TARGET = 4096

#: adaptive quality filtering: percent of each language's documents
#: kept, by descending LM fluency score (CCNet-style per-language
#: thresholds — an absolute cutoff would empty low-resource
#: languages and barely touch high-resource ones).
QUALITY_KEEP_PCT = 60

#: temperature sampling: keep probability K/sqrt(c_domain), i.e.
#: K=6 keeps domains of ≤36 docs whole and downsamples bigger ones
#: (fixture domains are 2^d-sized, d = floor(log2(doc_id+1))).
SAMPLE_K = 6

#: stratified sampling (sample_stratified): total sample size K,
#: allocated across strata by the largest-remainder (Hamilton)
#: method — base_g = floor(K*n_g/N) plus one extra for the strata
#: with the largest integer remainders. Exactly K rows out, every
#: stratum represented proportionally to the integer optimum, all
#: arithmetic in BIGINT so the allocation is engine-exact.
STRAT_SAMPLE_K = 120

#: epoch-capped mixture allocation (mix_epochs): token budget =
#: NUM/DEN of the corpus total (3/2 = train on 1.5x the corpus),
#: per-source repetition cap in epochs (2 = no source repeats more
#: than twice — the data-constrained-LM guidance that value decays
#: sharply past a few epochs), and the mixing temperature exponent
#: alpha = 0.5 realized as sqrt (correctly-rounded IEEE, engine
#: stable) scaled to an integer weight.
MIX_BUDGET_NUM = 3
MIX_BUDGET_DEN = 2
MIX_MAX_EPOCHS = 2
MIX_WEIGHT_SCALE = 1000

#: weighted multinomial sampling (sample_weighted): number of draws
#: WITH replacement; each draw lands at a 60-bit salted hash of the
#: draw index mod the total corpus weight — all integer arithmetic,
#: so the sample is bit-identical across engines (the A-ExpJ/A-Res
#: reservoir-key forms need exp/log/pow, which are platform-libm
#: transcendentals and NOT cross-engine stable — rejected for that).
WSAMPLE_DRAWS = 64

#: spatial grid join: synthesized integer coordinates (LCG-style
#: mixes of the key, both engines identical) on a GEO_MOD² plane;
#: radius == grid cell width so the 3×3 neighborhood is complete.
GEO_MOD = 10_000
GEO_AX = 48_271
GEO_AY = 16_807
GEO_RADIUS = 800

#: k-anonymity gate: a quasi-identifier combination shared by fewer
#: than K records is re-identifiable; chars bucket width generalizes
#: the exact length the way production gates generalize birth dates
#: to years.
K_ANON = 5
K_ANON_CHARS_BUCKET = 100
#: l-diversity: minimum distinct sensitive values (lang) a
#: quasi-identifier group must span to avoid the homogeneity leak.
L_DIVERSITY = 3

#: autocorrelation: lags 1..MAX of the daily series — 7 spans one
#: week so weekly seasonality shows as the lag-7 peak.
ACF_MAX_LAG = 7

#: hashing-trick feature dimension: tokens hash into this many
#: count slots (collisions intended — that IS the hashing trick).
FEATURE_HASH_DIM = 16

#: equi-depth binning: decile buckets — shared by the operator and
#: its oracle (a per-call override could not be verified).
QUANTILE_BUCKETS = 10

#: exact duplicated-span detection (the substring-dedup signal of
#: Lee et al. 2022, "Deduplicating Training Data Makes Language
#: Models Better"): a SPAN_NGRAM_K-token gram appearing in 2+ docs
#: marks a duplicated region; overlapping/adjacent marked grams
#: merge into maximal spans. 4 is below SHINGLE_K so spans catch
#: shorter verbatim repeats than the Jaccard family considers.
SPAN_NGRAM_K = 4

#: BPE training rounds registered as the driver-checked query (the
#: oracle unrolls the same loop, so a per-call override could not be
#: verified); real training runs thousands — the loop is identical.
BPE_TRAIN_ROUNDS = 3

#: hybrid retrieval (lexical + vector, RRF-fused): per-arm retrieval
#: depth, the RRF smoothing constant (60 = the value from Cormack &
#: Clarke's original reciprocal-rank-fusion paper), and the fused
#: result depth. Queries reuse ANN_QUERY_IDS (doc_id == vec_id on
#: the fixture's shared id domain).
HYBRID_ARM_K = 50
RRF_K = 60
HYBRID_TOP_K = 10

#: DSIR-style importance weighting (Xie et al. 2023, "Data Selection
#: for Language Models via Importance Resampling"): documents are
#: scored by how much their hashed-unigram profile looks like a
#: target domain relative to the raw corpus. 64 buckets (DSIR uses
#: 10k hashed n-gram buckets at web scale; the bucket count is a
#: quality dial, not a correctness one) and an English target — the
#: canonical "reweight raw toward target" setup.
DSIR_HASH_DIM = 64
DSIR_TARGET_LANG = "en"

#: nearest-centroid (Rocchio) hashed bag-of-words classifier: same
#: hashing-trick featurization at a classifier-friendly width.
ROCCHIO_HASH_DIM = 64

#: MMR diversity re-rank (Carbonell & Goldstein 1998): relevance
#: pool depth per query, picks per query, and the relevance/
#: diversity trade-off lambda. Runs on the retrieved pool only —
#: the pool bound (not the corpus) sizes the pairwise stage.
#: λ is applied as EXACT integer weights in both engines
#: (W_REL·rel − W_DIV·max_sim on the 1e-6-quantized similarities,
#: fixed point at 1e-6·denominator), derived here so the Spark loop
#: and the unrolled SQL oracle cannot drift from the documented λ.
MMR_POOL_K = 20
MMR_SELECT_K = 5
MMR_LAMBDA = 0.7

_MMR_FRAC = _Fraction(str(MMR_LAMBDA)).limit_denominator(100)
MMR_W_REL = _MMR_FRAC.numerator
MMR_W_DIV = _MMR_FRAC.denominator - _MMR_FRAC.numerator
#: divisor turning the integer mmr score back into a double
MMR_FIXED_SCALE = float(1e6 * _MMR_FRAC.denominator)

#: DSIR importance RESAMPLING: acceptance probability is
#: min(1, weight / DSIR_RESAMPLE_REF) against a FIXED reference
#: weight rather than the corpus max — keeps the decision a pure
#: per-row integer comparison (no corpus-max aggregate, no second
#: pass) and makes acceptance of a given document independent of
#: what else is in the batch, which is what an incremental ingest
#: pipeline needs. 2.0 ≈ "accept everything at least twice as
#: target-like as average" on the ratio scale (average ≈ 1).
DSIR_RESAMPLE_REF = 2.0
DSIR_RESAMPLE_SALT = "ds1"

#: Poisson bootstrap (the distributed bootstrap: per-row Poisson(1)
#: replicate weights instead of resampling — Chamandy et al.,
#: "Estimating Uncertainty for Massive Data Streams"): number of
#: replicates, the hash salt, and the Poisson(1) inverse-CDF
#: thresholds on a u32 draw — PRE-COMPUTED integer literals
#: (floor(cdf_k · 2^32), k = 0..6; weight capped at 7, beyond the
#: 1-in-10^5 tail) so neither engine ever evaluates exp()/factorial
#: and a libm ulp difference cannot move a threshold.
BOOTSTRAP_B = 32
BOOTSTRAP_SALT = "bs1"
POISSON1_CDF_U32 = (
    1580030168,
    3160060337,
    3950075421,
    4213413783,
    4279248373,
    4292415291,
    4294609777,
)

#: Benford's-law expected first-significant-digit frequencies
#: log10(1 + 1/d), d = 1..9 — PRE-COMPUTED double literals (the
#: Poisson-threshold discipline: neither engine evaluates log10, so
#: a libm ulp difference cannot move an expectation). ≤ 17
#: significant digits each, embedded in oracle SQL as quoted
#: strings (see numeric.sql_round's literal-precision caveat).
BENFORD_P = (
    0.3010299956639812,
    0.17609125905568124,
    0.12493873660829992,
    0.09691001300805642,
    0.07918124604762482,
    0.06694678963061322,
    0.05799194697768673,
    0.05115252244738129,
    0.04575749056067514,
)

#: pseudo-relevance-feedback query expansion (Rocchio PRF): number
#: of expansion terms mined per query from its hybrid top-K
#: feedback documents.
PRF_EXPANSION_TERMS = 10

#: PRF RE-RETRIEVAL term weights (the retrieve→expand→re-retrieve
#: loop's final pass, round 12): the second-pass lexical score is
#: Σ weight·idf over matched DISTINCT terms, with original query
#: terms weighted PRF_W_ORIG and mined expansion terms PRF_W_EXPANSION
#: — the RM3-style anchor-the-original-query interpolation expressed
#: as EXACT integer weights (λ = 2/3 on the original side), so both
#: engines' fixed-point sums agree bit-for-bit.
PRF_W_ORIG = 2
PRF_W_EXPANSION = 1

#: context-assembly token budget (round 12): ``context_pack`` fills
#: a per-query context window with MMR picks in pick order until the
#: cumulative whitespace-token count exceeds this — sized to the
#: fixture corpus (docs average ~54 tokens, MMR_SELECT_K=5 picks)
#: so the greedy prefix splits mid-list rather than trivially
#: including or excluding everything.
CONTEXT_TOKEN_BUDGET = 150

#: winnowing fingerprint window (Schleimer et al. 2003, the MOSS
#: algorithm): one fingerprint — the rightmost-minimal gram hash —
#: per WINNOW_W consecutive k-gram hashes. Grams reuse SPAN_NGRAM_K,
#: so the fingerprints SAMPLE the same gram universe dedup_spans
#: scans densely; any shared substring of ≥ SPAN_NGRAM_K + WINNOW_W
#: − 1 tokens is guaranteed to share a fingerprint (the winnowing
#: guarantee), at ~2/(w+1) of the posting volume.
WINNOW_W = 5

#: trailing-window length for window_zscore_rolling — shared by the
#: Spark operator and its oracle so the frame cannot drift
ZSCORE_WINDOW = 16

#: truncation depth of window_ewma's dyadic-weight EWMA (trailing
#: lags 2^0..2^(depth-1)) — shared by the Spark operator and the
#: oracle's lag unroll so the frame cannot drift (the ZSCORE_WINDOW
#: pattern)
EWMA_DEPTH = 8

#: winsorize_stats clip ranks as EXACT fractions of the group size:
#: lo at rank ceil(n·1/20), hi at rank ceil(n·19/20), both computed
#: in integer arithmetic (`(n·num + den−1) div den`) in BOTH engines
#: — a float q·n would drift the rank at exact multiples
#: (0.05·40000 = 2000.0000000000002 in doubles → ceil picks 2001)
WINSOR_LO_NUM, WINSOR_HI_NUM, WINSOR_DEN = 1, 19, 20
