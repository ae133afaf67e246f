"""Scale-path variants must be result-identical to their reference
implementations (the 'same answer, better plan' contract):

- simhash banded (pigeonhole equi-join) == brute-force all-pairs
- Arrow-batched shingle generation == pure column-expression form
"""

from __future__ import annotations

from rsbsa_etl_spark import params
from rsbsa_etl_spark.functions import dedup
from rsbsa_etl_spark.sources.fixtures import load

from tests.conftest import SF_DIR


def test_simhash_banded_equals_bruteforce(spark):
    docs = load(spark, SF_DIR, "documents")
    brute = set(map(tuple, dedup.simhash_pairs(docs).collect()))
    banded = set(map(tuple, dedup.simhash_pairs_banded(docs).collect()))
    assert banded == brute
    assert len(banded) > 0  # non-vacuous at sf0.001


def test_shingle_arrow_equals_expr(spark):
    docs = load(spark, SF_DIR, "documents")
    arrow = sorted(map(tuple, dedup.shingle_rows(docs).collect()))
    expr = sorted(map(tuple, dedup.shingle_rows_expr(docs).collect()))
    assert arrow == expr
    assert len(arrow) > 0


def test_cosine_pairs_tiling_invariant(spark):
    # the tiled block-matmul must produce the same pair set for any
    # tile count — catches diagonal/off-diagonal bookkeeping bugs
    # (double-emitted in-tile pairs, dropped cross-tile pairs)
    from rsbsa_etl_spark.functions import similarity

    emb = load(spark, SF_DIR, "embeddings")
    one = sorted(map(tuple, similarity.cosine_pairs(emb, n_tiles=1).collect()))
    eight = sorted(map(tuple, similarity.cosine_pairs(emb, n_tiles=8).collect()))
    five = sorted(map(tuple, similarity.cosine_pairs(emb, n_tiles=5).collect()))
    assert one == eight == five
    assert len(one) > 0
    assert all(a < b for a, b, _ in one)


def test_semantic_dedup_invariants(spark):
    from rsbsa_etl_spark.functions import similarity

    emb = load(spark, SF_DIR, "embeddings")
    out = similarity.semantic_dedup(emb).collect()
    assert len(out) == emb.count()  # every vector classified
    by_cell = {}
    for r in out:
        by_cell.setdefault(r.cell_id, []).append(r)
    for cell, rows in by_cell.items():
        exemplars = {r.exemplar_id for r in rows}
        assert len(exemplars) == 1  # one exemplar per cell
        for r in rows:
            if r.vec_id == r.exemplar_id:
                assert r.keep  # exemplar always kept


def test_containment_auto_picks_bit_identical_arm(spark, monkeypatch):
    """the r14 containment auto-dial (mirroring the r13 MMR pool
    auto-dial contract): on EACH side of the budget boundary the
    auto entry point's rows must be bit-identical to the explicit
    arm it delegates to — the dial only chooses, never changes
    results. Patching the ``params`` budget forces both sides on the
    same corpus; the default budget's data-driven picks at the
    fixture SFs are oracle-checked by the registered key."""
    docs = load(spark, SF_DIR, "documents")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    exact = rows(dedup.containment_pairs(docs))
    capped = rows(
        dedup.containment_pairs(
            docs, candidates=dedup.minhash_capped_pairs(docs)
        )
    )
    # a huge budget keeps the full-recall exact arm
    monkeypatch.setattr(params, "CONTAINMENT_AUTO_MAX_PAIRS_PER_DOC", 1 << 40)
    assert rows(dedup.containment_pairs_auto(docs)) == exact
    # a zero budget forces the capped-LSH arm
    monkeypatch.setattr(params, "CONTAINMENT_AUTO_MAX_PAIRS_PER_DOC", 0)
    assert rows(dedup.containment_pairs_auto(docs)) == capped
    assert len(exact) > 0  # non-vacuous fixture


def test_jaccard_auto_picks_bit_identical_arm(spark, monkeypatch):
    """r14 Jaccard auto-dial, same contract as the containment dial:
    patching the ``params`` budget forces each side of the boundary
    on one corpus and the auto rows must equal the explicit arm
    exactly."""
    docs = load(spark, SF_DIR, "documents")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    exact = rows(dedup.ngram_jaccard_pairs(docs))
    capped = rows(
        dedup.ngram_jaccard_pairs(
            docs, candidates=dedup.minhash_capped_pairs(docs)
        )
    )
    monkeypatch.setattr(params, "JACCARD_AUTO_MAX_PAIRS_PER_DOC", 1 << 40)
    assert rows(dedup.jaccard_pairs_auto(docs)) == exact
    monkeypatch.setattr(params, "JACCARD_AUTO_MAX_PAIRS_PER_DOC", 0)
    assert rows(dedup.jaccard_pairs_auto(docs)) == capped
    assert len(exact) > 0


def test_minhash_geometry_derived_and_recall_consistent(spark):
    """r15 (r14 verdict item 4): the band geometry is DERIVED from
    the threshold by the exact-rational S-curve optimization — and
    it reproduces the historical 4×4 constant, so every existing
    minhash key stays bit-stable. dedup_recall's MEASURED recall is
    then checked against the geometry's own prediction on the
    fixture's true-pair jaccard distribution (per-pair collision
    probability 1−(1−j^rows)^bands) — the recall-axis analogue of
    the cost dials' measured-crossover validation."""
    from fractions import Fraction

    from rsbsa_etl_spark import params as P
    from rsbsa_etl_spark.functions import dedup
    from rsbsa_etl_spark.sources.fixtures import load
    from tests.conftest import SF_DIR

    # derived == historical constant; the optimum is the ONLY
    # feasible geometry at 16 perms whose miss is under 0.6 (r=1..3
    # fail the 5%-at-0.3 precision guard, r>=5 miss more)
    assert (P.MINHASH_BANDS, P.MINHASH_ROWS) == (4, 4)
    assert P.minhash_geometry(
        P.JACCARD_THRESHOLD_FRAC,
        P.MINHASH_PERMS,
        P.MINHASH_FP_SIM,
        P.MINHASH_FP_BUDGET,
    ) == (4, 4)
    bound = P.minhash_miss_bound()
    assert bound == Fraction(87578116096, 152587890625)  # ≈ 0.574
    # the derivation is a real function of its inputs: an 8-perm
    # budget yields a different optimum (2 bands × 4 rows)
    assert P.minhash_geometry(
        P.JACCARD_THRESHOLD_FRAC, 8, P.MINHASH_FP_SIM, P.MINHASH_FP_BUDGET
    ) == (2, 4)
    # an impossible precision guard raises instead of silently
    # returning a geometry that can't meet it
    import pytest as _pytest

    with _pytest.raises(ValueError):
        P.minhash_geometry(
            P.JACCARD_THRESHOLD_FRAC, 2, P.MINHASH_FP_SIM, Fraction(1, 10**9)
        )

    docs = load(spark, SF_DIR, "documents")
    jacs = [
        row["jaccard"]
        for row in dedup.ngram_jaccard_pairs(docs).select("jaccard").collect()
    ]
    assert jacs, "fixture has no true pairs — the check is vacuous"
    b, r = P.MINHASH_BANDS, P.MINHASH_ROWS
    predicted = sum(1.0 - (1.0 - j**r) ** b for j in jacs) / len(jacs)
    row = dedup.dedup_recall_eval(docs).collect()[0]
    measured = row["recall"]
    # the S-curve floor: every true pair has j >= t, so expected
    # recall >= 1 - miss_bound (slack for sampling + hash
    # non-ideality: md5-seeded universal hashes are not the ideal
    # independent permutations the formula assumes)
    assert measured >= 1.0 - float(bound) - 0.10, (measured, float(bound))
    # ...and the sharper check: measured tracks the per-pair
    # prediction on this corpus's actual jaccard distribution
    assert abs(measured - predicted) <= 0.10, (measured, predicted)
