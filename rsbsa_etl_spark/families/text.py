"""Registry wrappers — text-analysis family: language-ID, quality scoring, token stats,
BPE, fingerprinting, and the multimodal binary-column plumbing.

Split out of registry.py by family (r12 verdict item 8); the
driver contract is unchanged — ``registry.QUERIES`` re-exports
every wrapper, and each key's oracle stays in oracles.ORACLES.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from rsbsa_etl_spark.functions import dedup, multimodal, similarity, textstats
from rsbsa_etl_spark.sources.fixtures import load


def ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k evaluation of the LSH and IVF indexes vs exact brute
    force — deterministic, so the quality metric itself is
    oracle-checked."""
    return similarity.ann_recall(load(spark, sf_dir, "embeddings"))


def ann_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRR@k of the LSH/IVF indexes vs exact top-1 — the
    rank-position complement to ann_recall, value-checked."""
    return similarity.ann_mrr(load(spark, sf_dir, "embeddings"))


def ann_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@k + MRR@k per index from ONE set of persisted index
    scans — the consolidated form of ann_recall/ann_mrr (those keys
    stay registered for the per-query/standalone shapes; an eval
    SWEEP should run this one: half the index builds for both
    metrics)."""
    return similarity.ann_eval(load(spark, sf_dir, "embeddings"))


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.lang_id(load(spark, sf_dir, "documents"))


def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.quality_score(load(spark, sf_dir, "documents"))


def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.token_counts(load(spark, sf_dir, "documents"))


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.fingerprint(load(spark, sf_dir, "documents"))


def term_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.term_topk(load(spark, sf_dir, "documents"))


def tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.tfidf_topk(load(spark, sf_dir, "documents"))


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 term ranking (tf saturation + length normalization) —
    the retrieval-grade upgrade of ``tfidf_topk``, transcendental-
    free so the score is bit-exact cross-engine."""
    return textstats.bm25_topk(load(spark, sf_dir, "documents"))


def udtf_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return textstats.chunk_tokens_udtf(load(spark, sf_dir, "documents"))


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    return multimodal.multimodal_meta(load(spark, sf_dir, "documents"))


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched stub decode over binary payloads. The stub is
    sha256-derived (exact /2^32 binary scaling), so the FULL feature
    vector is oracle-checked — the sfX fixture text is ASCII, making
    payload bytes == text chars on the DuckDB side.

    Driver-facing shape: the feature vector is projected to scalar
    ``f0..f7`` double columns (array cells are unhashable in the
    driver's pandas canonicalizer; the r4 row was red on exactly
    that, with values verified equal)."""
    frames = multimodal.attach_binary(load(spark, sf_dir, "documents"))
    feats = multimodal.extract_features(frames)
    return feats.select(
        "doc_id",
        "byte_len",
        "content_md5",
        *[
            F.col("feature")[i].alias(f"f{i}")
            for i in range(multimodal.FEATURE_DIM)
        ],
    )


def multimodal_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rows-only: frame-sampling analog — byte-offset chunk windows
    per payload; values pinned by pytest goldens."""
    frames = multimodal.attach_binary(load(spark, sf_dir, "documents"))
    return multimodal.sample_chunks(frames)


def fingerprint_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """winnowing fingerprints (Schleimer et al. 2003, MOSS):
    rightmost-minimal gram hash per w-window — the sparse sampled
    counterpart of dedup_spans' dense posting list, with the
    k+w-1-token shared-run guarantee."""
    return dedup.winnow_fingerprints(load(spark, sf_dir, "documents"))


def token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-document type-token ratio + unigram Gini impurity — the
    transcendental-free lexical-diversity quality signal."""
    from rsbsa_etl_spark.functions.textstats import token_gini as _tg

    return _tg(load(spark, sf_dir, "documents"))

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
