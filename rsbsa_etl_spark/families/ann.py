"""Registry wrappers — embedding family: ANN search (brute/LSH/IVF/PQ), kNN graphs,
retrieval (hybrid/RRF/MMR/PRF), and their recall/MRR evals.

Split out of registry.py by family (r12 verdict item 8); the
driver contract is unchanged — ``registry.QUERIES`` re-exports
every wrapper, and each key's oracle stays in oracles.ORACLES.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from rsbsa_etl_spark.functions import similarity
from rsbsa_etl_spark.sources.fixtures import load


def ann_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.brute_force_topk(load(spark, sf_dir, "embeddings"))


def ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.lsh_topk(load(spark, sf_dir, "embeddings"))


def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi-probe sign-LSH (home bucket + all 1-bit-flip buckets) —
    the recall fix the ``ann_recall`` evaluation motivates."""
    return similarity.lsh_multiprobe_topk(load(spark, sf_dir, "embeddings"))


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.ivf_topk(load(spark, sf_dir, "embeddings"))


def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """hybrid retrieval: lexical idf-overlap arm + embedding cosine
    arm, each top-K per query, fused by reciprocal rank fusion --
    the modern two-arm search stack as one declarative plan."""
    from rsbsa_etl_spark.functions.retrieval import hybrid_search_rrf as _h

    return _h(
        load(spark, sf_dir, "documents"), load(spark, sf_dir, "embeddings")
    )


def hybrid_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the composed retrieval stack: hybrid RRF retrieval -> greedy
    MMR diversity re-rank over the fused pool (retrieve, fuse,
    de-duplicate the context) — same greedy kernel as mmr_rerank."""
    from rsbsa_etl_spark.functions.retrieval import hybrid_mmr as _h

    return _h(
        load(spark, sf_dir, "documents"), load(spark, sf_dir, "embeddings")
    )


def prf_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pseudo-relevance-feedback query expansion (Rocchio PRF): top
    expansion terms per query mined from its hybrid feedback docs
    by tf·rational-idf, query terms excluded."""
    from rsbsa_etl_spark.functions.retrieval import prf_expand as _p

    return _p(
        load(spark, sf_dir, "documents"), load(spark, sf_dir, "embeddings")
    )


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversity re-rank (Carbonell & Goldstein '98): greedy
    λ·rel − (1−λ)·max-sim selection over the cosine top-pool, in
    exact integer fixed point — the redundancy filter between
    retrieval and a context window."""
    from rsbsa_etl_spark.functions.retrieval import mmr_rerank as _m

    return _m(load(spark, sf_dir, "embeddings"))


def mmr_rerank_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``mmr_rerank`` with the pool retrieved by the IVF probe
    instead of the brute-force scan — the billion-vector deployment
    shape (corpus work drops to ~nprobe/n_cells per query); the
    greedy kernel, quantization, and oracle unroll are shared with
    mmr_rerank, so only the retrieval approximation differs."""
    from rsbsa_etl_spark.functions.retrieval import mmr_rerank_ivf as _m

    return _m(load(spark, sf_dir, "embeddings"))


def mmr_rerank_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the production MMR entry point (r13 verdict item 4): the
    params-driven POOL auto-dial over the brute and IVF retrieval
    arms, picking by the measured 200k-vector crossover
    (``ivf_pool_min_queries``) — batches below it keep the brute
    pool, at/above it the in-plan IVF pool. Delegation is verbatim
    and the pick params-deterministic: at the fixture's defaults
    (|ANN_QUERY_IDS|=5 < crossover 32) the brute arm runs, so the
    oracle is ``mmr_rerank``'s SQL unchanged; the arm boundary
    itself is pinned both sides in tests/test_property.py."""
    from rsbsa_etl_spark.functions.retrieval import mmr_rerank_auto as _m

    return _m(load(spark, sf_dir, "embeddings"))


def prf_requery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the PRF loop's final pass: re-run lexical retrieval with the
    expanded query (original terms weighted PRF_W_ORIG, mined
    expansion terms PRF_W_EXPANSION), Σ weight·idf over matched
    distinct terms in exact fixed point — completes the
    retrieve→expand→re-retrieve loop prf_expand is the middle of."""
    from rsbsa_etl_spark.functions.retrieval import prf_requery as _m

    return _m(load(spark, sf_dir, "documents"),
              load(spark, sf_dir, "embeddings"))


def context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """context-window assembly after MMR: greedy prefix of each
    query's diversity-ranked picks under CONTEXT_TOKEN_BUDGET — the
    running-sum budget cut between retrieval and the model."""
    from rsbsa_etl_spark.functions.retrieval import context_pack as _m

    return _m(load(spark, sf_dir, "documents"),
              load(spark, sf_dir, "embeddings"))


def knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact all-pairs k-NN graph (tiled BLAS; O(n²/tiles) FLOPs by
    definition — round-8 measured exponent ~1.4 over the top
    decade). At scale use ``knn_graph_ivf``: √n-cell coarse
    quantization cuts the work to O(n^1.5·nprobe)."""
    return similarity.knn_graph(load(spark, sf_dir, "embeddings"))


def knn_graph_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed approximate k-NN graph — the scale dial for
    ``knn_graph`` (cells sized √n by one corpus count; probe-vs-cell
    BLAS blocks; deterministic, so the approximate graph itself is
    value-checked)."""
    return similarity.knn_graph_ivf(load(spark, sf_dir, "embeddings"))


def knn_graph_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """the measured auto-dial over the two kNN-graph arms: one
    corpus count picks the exact tiled graph at or under the
    measured crossover budget (full recall where the n² FLOPs are
    still the cheaper plan) and the IVF arm above it. The count is
    the only statistic, so the oracle replicates the pick exactly;
    both explicit arms stay registered as overrides."""
    return similarity.knn_graph_auto(load(spark, sf_dir, "embeddings"))


def ann_geometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r15: the corpus geometry verdict (clustered vs isotropic) as
    a one-row profiling key — mean cosine to the nearest of 128
    fixed probe centroids (probe self-assignments excluded, per-row
    1e-6 quantization for order-independent cross-engine
    aggregation) compared against the analytic EVT isotropic null
    sqrt(2·ln(m)/d), embedded as the same Python literal in both
    plans. It tells which measured IVF recall curve (SCALING.md r9)
    a corpus follows; registering the statistic makes that verdict
    oracle-value-checked."""
    return similarity.geometry_profile(load(spark, sf_dir, "embeddings"))


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return similarity.embedding_outliers(load(spark, sf_dir, "embeddings"))


def embedding_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.functions.similarity import pq_codes

    return pq_codes(load(spark, sf_dir, "embeddings"))


def ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.functions.similarity import ivfpq_topk

    return ivfpq_topk(load(spark, sf_dir, "embeddings"))


def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from rsbsa_etl_spark.functions.similarity import quantize_int8

    return quantize_int8(load(spark, sf_dir, "embeddings"))

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
