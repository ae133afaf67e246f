"""Registry wrappers — deduplication & decontamination family: exact/minhash/simhash/
set-similarity/span-level dedup and the benchmark-decontam trio.

Split out of registry.py by family (r12 verdict item 8); the
driver contract is unchanged — ``registry.QUERIES`` re-exports
every wrapper, and each key's oracle stays in oracles.ORACLES.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from rsbsa_etl_spark.functions import curation, dedup, similarity
from rsbsa_etl_spark.sources.fixtures import load


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup(load(spark, sf_dir, "documents"))


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_candidate_pairs(load(spark, sf_dir, "documents"))


def dedup_minhash_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.minhash_capped_pairs(load(spark, sf_dir, "documents"))


def dedup_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """candidate pairs + signature-agreement Jaccard estimate — the
    O(perms) screening score used before exact verification."""
    return dedup.minhash_estimate_pairs(load(spark, sf_dir, "documents"))


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash_pairs_banded(load(spark, sf_dir, "documents"))


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.ngram_jaccard_pairs(load(spark, sf_dir, "documents"))


def dedup_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the speed/recall dial on exact Jaccard: capped-MinHash-LSH
    candidates into the exact |A∩B|/|A∪B| verify — the Jaccard
    sibling of dedup_containment_capped (exact verify on every
    candidate, recall = the LSH collision probability, the
    full-recall prefix arm stays registered). The oracle replicates
    the SAME deterministic capped candidate set in SQL."""
    docs = load(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, candidates=dedup.minhash_capped_pairs(docs)
    )


def dedup_jaccard_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the measured auto-dial over the two Jaccard arms (the exact
    AllPairs arm carried the suite's worst growth exponent, 1.13 on
    the dense decade): V = Σ_s C(prefix_postings, 2) — the exact
    pre-prune cardinality of the prefix self-join — picks exact
    (recall 1) under the measured budget and the capped-LSH arm
    above it; the pick is integer arithmetic so the oracle
    value-checks the dial decision and the picked rows."""
    return dedup.jaccard_pairs_auto(load(spark, sf_dir, "documents"))


def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.cosine_pairs(load(spark, sf_dir, "embeddings"))


def dedup_embedding_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the measured auto-dial over the two embedding-dedup arms (r15
    — the last quadratic kernel gets the wired-crossover treatment):
    one corpus count keeps the exact tiled all-pairs cosine join
    (full recall) under DEDUP_EMBEDDING_AUTO_MAX_VECTORS and takes
    the linear SemDeDup member→exemplar prune above it, both emitting
    the same (vec_a < vec_b, cosine) duplicate-pair contract; the
    pick is integer arithmetic so the oracle value-checks the dial
    decision and the picked rows. Both explicit arms stay registered
    as manual overrides."""
    return similarity.embedding_dedup_auto(
        load(spark, sf_dir, "embeddings")
    )


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style cluster-then-prune embedding dedup: Voronoi
    cells → per-cell exemplar → keep/duplicate flag vs the exemplar.
    Linear in corpus size (no pairwise stage); see
    ``similarity.semantic_dedup``."""
    return similarity.semantic_dedup(load(spark, sf_dir, "embeddings"))


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """duplicate-cluster resolution: connected components over the
    minhash candidate pairs (iterative min-label propagation)."""
    docs = load(spark, sf_dir, "documents")
    return dedup.dedup_clusters(docs, dedup.minhash_candidate_pairs(docs))


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fixed-point PageRank over the minhash dup-graph (3 power
    iterations, quantized inflow sums — engine-exact oracle)."""
    docs = load(spark, sf_dir, "documents")
    return dedup.pagerank(docs, dedup.minhash_candidate_pairs(docs))


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact directed containment pairs via AllPairs prefix filter —
    full recall by construction. At scale use
    ``dedup_containment_capped`` (capped-LSH candidates, exact
    verify): the exact arm's candidate volume grows with per-shingle
    posting density^2 on template-heavy corpora (SCALING.md measured
    the three-point growth)."""
    return dedup.containment_pairs(load(spark, sf_dir, "documents"))


def dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the speed/recall dial on containment: capped-MinHash-LSH
    candidates (``minhash_capped_pairs``) fed into the exact verify
    via the ``candidates=`` hook — the documented 100 TB mitigation
    for the exact prefix filter's superlinear candidate volume on
    template-heavy corpora (SCALING.md). The verify is still exact
    containment on every candidate; recall is the LSH collision
    probability (low for subset pairs with very different sizes —
    the exact ``dedup_containment`` path exists for full recall).
    The oracle replicates the SAME deterministic capped-LSH
    candidate set in SQL, so this key is value-checked end-to-end,
    not oracle-relaxed."""
    docs = load(spark, sf_dir, "documents")
    cand = dedup.minhash_capped_pairs(docs)
    return dedup.containment_pairs(docs, candidates=cand)


def dedup_containment_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the measured auto-dial over the two containment arms (r13
    verdict item 5): price the exact arm's prefix join exactly
    (V = Σ_s prefix·postings — the join's pre-prune cardinality,
    from two shingle-keyed aggregations over the ranked table the
    exact arm reuses), keep full recall while V/doc stays under the
    measured crossover budget, switch to the capped-LSH arm above
    it. The pick is integer arithmetic on the data, so the oracle
    replicates the decision AND the picked arm's rows — the dial
    itself is value-checked. Both explicit arms stay registered as
    manual overrides."""
    return dedup.containment_pairs_auto(load(spark, sf_dir, "documents"))


def dedup_embedding_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding twin of dedup_incremental: the deterministic 20%
    "new batch" (vec_id % 10 >= 8) screened against the 80% corpus —
    bipartite tiled block-matmul, corpus shuffled once, never
    self-joined."""
    emb = load(spark, sf_dir, "embeddings")
    return similarity.cosine_pairs_bipartite(
        emb.where(F.col("vec_id") % 10 >= 8),
        emb.where(F.col("vec_id") % 10 < 8),
    )


def dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact duplicated-span detection (Lee et al. 2022 substring
    dedup, posting-list form): maximal token spans contiguously
    covered by k-grams that also occur in other docs — the regions
    a pipeline cuts, not the doc pairs."""
    return dedup.duplicated_spans(load(spark, sf_dir, "documents"))


def dedup_spans_intra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated-span detection: maximal token spans
    contiguously covered by k-grams occurring more than once in the
    same document — template loops / boilerplate stutter that the
    cross-doc posting list (dedup_spans) by construction never
    marks; same schema, so apply_span_cut cuts these too."""
    return dedup.intra_doc_duplicated_spans(
        load(spark, sf_dir, "documents")
    )


def dedup_spans_intra_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """apply the within-doc dedup: cut every intra-doc repeated span
    and value-check the reassembled text (md5) — detect/cut symmetry
    for the span family, shared apply_span_cut kernel."""
    return dedup.cut_intra_doc_spans(load(spark, sf_dir, "documents"))


def dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall/precision of banded MinHash-LSH candidates vs the
    exact Jaccard pair truth — the dedup counterpart of
    ann_recall; the metric itself is value-checked."""
    return dedup.dedup_recall_eval(load(spark, sf_dir, "documents"))


def dedup_spans_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """apply the substring dedup: remove every detected duplicated
    span and value-check the reassembled cleaned text (md5) — the
    actionable half of Lee et al. 2022."""
    return dedup.cut_duplicated_spans(load(spark, sf_dir, "documents"))


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the "new batch" is the deterministic 20% slice doc_id % 10 ≥ 8
    # — scale-invariant (works at every sf) and disjoint from the
    # "existing corpus" slice by construction
    docs = load(spark, sf_dir, "documents")
    return dedup.incremental_dedup_pairs(
        docs.where(F.col("doc_id") % 10 >= 8),
        docs.where(F.col("doc_id") % 10 < 8),
    )


def decontam_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding-arm benchmark decontamination: max cosine of every
    training vector to the broadcast eval set, flagged at the corpus
    cosine threshold — the semantic-leak screen completing the
    n-gram (decontam_ngram) / edit-distance (decontam_fuzzy) trio."""
    return curation.decontam_embedding(load(spark, sf_dir, "embeddings"))


def decontam_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """span-level benchmark decontamination: the maximal training-doc
    token spans contiguously covered by k-grams that also occur in
    the eval set — the surgical-cut unit (cut_duplicated_spans
    consumes this schema), completing the decontam family's
    drop-vs-cut axis."""
    from rsbsa_etl_spark.functions.dedup import decontam_spans as _m

    return _m(load(spark, sf_dir, "documents"))


def decontam_spans_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """apply the span-level decontamination: cut every detected
    eval-leak span from the training docs and value-check the
    reassembled cleaned text (md5) — the actionable half of
    decontam_spans, sharing the cut kernel with dedup_spans_cut
    (apply_span_cut — no second implementation)."""
    from rsbsa_etl_spark.functions.dedup import cut_decontam_spans as _m

    return _m(load(spark, sf_dir, "documents"))


def decontam_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    return curation.decontam_fuzzy(load(spark, sf_dir, "documents"))


def decontam_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the decontamination decision table: all four verified arms
    (n-gram overlap, fuzzy containment, embedding cosine, span leak)
    composed into one per-training-doc drop/cut/keep verdict — the
    release-gate action a pipeline actually consumes."""
    return curation.decontam_report(
        load(spark, sf_dir, "documents"), load(spark, sf_dir, "embeddings")
    )


def dedup_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.functions.curation import priority_dedup

    return priority_dedup(load(spark, sf_dir, "documents"))

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
