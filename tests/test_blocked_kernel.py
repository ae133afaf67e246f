"""Property tests for the blocked running-aggregate kernel and its
round-6 consumers: the decomposition must be EXACTLY the plain
single-window form on adversarial inputs (negative keys, block
boundaries, duplicates), the skyline must contain no dominated row
and every non-dominated one, EWMA must equal its per-row recursive
definition, and HLL registers must respect their arithmetic bounds."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, Window, functions as F

from rsbsa_etl_spark.operators.profiling import (
    ECDF_BLOCK_BITS,
    blocked_running,
)


#: adversarial key sets: negatives (arithmetic-shift block ids),
#: exact block boundaries (k*2^16 - 1, k*2^16), one-block, and a
#: spread forcing many singleton blocks
KEYSETS = [
    [-(3 << ECDF_BLOCK_BITS) - 1, -1, 0, 1, (1 << ECDF_BLOCK_BITS) - 1,
     (1 << ECDF_BLOCK_BITS), (1 << ECDF_BLOCK_BITS) + 1,
     (5 << ECDF_BLOCK_BITS)],
    [0, 1, 2, 3],
    [i << ECDF_BLOCK_BITS for i in range(-4, 5)],
]


@pytest.mark.parametrize("keys", KEYSETS)
@pytest.mark.parametrize("agg,inclusive", [
    ("sum", True), ("sum", False), ("max", True), ("max", False),
])
def test_blocked_running_equals_plain_window(spark, keys, agg, inclusive):
    rows = [Row(v=int(k), x=int((k * 7 + 3) % 11 - 5)) for k in keys]
    df = spark.createDataFrame(rows).repartition(4)
    got = {
        r["v"]: r["x_cum" if agg == "sum" else "x_run"]
        for r in blocked_running(df, "v", ["x"], agg, inclusive).collect()
    }
    end = 0 if inclusive else -1
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, end)
    fn = F.sum if agg == "sum" else F.max
    ref_col = fn("x").over(w)
    if agg == "sum" and not inclusive:
        ref_col = F.coalesce(ref_col, F.lit(0))
    want = {r["v"]: r["ref"] for r in df.select("v", ref_col.alias("ref")).collect()}
    assert got == want


def test_skyline_has_exactly_the_undominated_rows(spark, sf_dir):
    from rsbsa_etl_spark.operators.analytics import skyline_pareto
    from rsbsa_etl_spark.sources.fixtures import load

    orders = load(spark, sf_dir, "orders")
    pts = [
        (r["o_orderkey"],
         int(round(r["o_totalprice"] * 100)),
         r["o_orderdate"].date())
        for r in orders.where(
            F.col("o_totalprice").isNotNull()
            & F.col("o_orderdate").isNotNull()
        ).collect()
    ]
    def dominated(p):
        return any(
            q[1] >= p[1] and q[2] >= p[2] and (q[1] > p[1] or q[2] > p[2])
            for q in pts
        )
    want = {k for k, _, _ in (p for p in pts if not dominated(p))}
    got = {r["o_orderkey"] for r in skyline_pareto(orders).collect()}
    assert got == want


def test_ewma_matches_rowwise_definition(spark, sf_dir):
    from rsbsa_etl_spark.operators.analytics import window_ewma
    from rsbsa_etl_spark.sources.fixtures import load

    events = load(spark, sf_dir, "events")
    rows = sorted(
        (
            (r["user_id"], r["ts"], r["event_id"],
             int(round(r["value"] * 1e4)))
            for r in events.where(
                F.col("value").isNotNull() & F.col("ts").isNotNull()
            ).collect()
        ),
    )
    import collections
    hist = collections.defaultdict(list)
    want = {}
    for uid, ts, eid, vi in rows:
        hist[uid].append(vi)
        tail = hist[uid][-8:]
        num = sum(x * (1 << i) for i, x in enumerate(tail))
        den = sum(1 << i for i in range(len(tail)))
        import math
        want[eid] = math.floor(num / den / 1e4 * 1e6 + 0.5) / 1e6
    got = {r["event_id"]: r["ewma"] for r in window_ewma(events).collect()}
    assert got == want


def test_hll_register_bounds_and_merge_dominance(spark, sf_dir):
    """every group estimate ≤ sum of group estimates is NOT a sketch
    guarantee — what IS guaranteed: merged z_scaled ≤ every group's
    (register max can only shrink 2^-M terms), hence merged estimate
    ≥ each group's, and zero-register counts are within [0, 64]."""
    from rsbsa_etl_spark.operators.analytics import hll_sketch
    from rsbsa_etl_spark.sources.fixtures import load

    out = {r["event_type"]: r for r in hll_sketch(
        load(spark, sf_dir, "events")).collect()}
    assert "ALL" in out and len(out) >= 2
    merged = out.pop("ALL")
    for g, r in out.items():
        assert 0 <= r["n_zero_registers"] <= 64, g
        denom_g = r["z_scaled"] + r["n_zero_registers"] * (1 << 27)
        denom_m = merged["z_scaled"] + merged["n_zero_registers"] * (1 << 27)
        assert denom_m <= denom_g, g
        assert merged["hll_raw_est"] >= r["hll_raw_est"], g


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    kv=st.lists(
        st.tuples(
            st.integers(min_value=-(1 << 40), max_value=1 << 40),
            st.integers(min_value=-1000, max_value=1000),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[0],
    )
)
def test_blocked_running_fuzz(spark, kv):
    """hypothesis: arbitrary (unique-key, value) sets — including
    huge negative keys and values summing through zero — must match
    the plain window exactly for every (agg, inclusive) combination."""
    df = spark.createDataFrame(
        [Row(v=int(k), x=int(x)) for k, x in kv]
    ).repartition(3)
    for agg, inclusive in (
        ("sum", True), ("sum", False), ("max", True), ("max", False)
    ):
        out = "x_cum" if agg == "sum" else "x_run"
        got = {
            r["v"]: r[out]
            for r in blocked_running(df, "v", ["x"], agg, inclusive).collect()
        }
        end = 0 if inclusive else -1
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, end)
        fn = F.sum if agg == "sum" else F.max
        ref = fn("x").over(w)
        if agg == "sum" and not inclusive:
            ref = F.coalesce(ref, F.lit(0))
        want = {
            r["v"]: r["ref"] for r in df.select("v", ref.alias("ref")).collect()
        }
        assert got == want, (agg, inclusive)


@pytest.mark.parametrize("agg,inclusive", [
    ("sum", True), ("sum", False), ("max", True), ("max", False),
])
def test_blocked_running_grouped_equals_plain_window(spark, agg, inclusive):
    """grouped mode (group_cols) vs Window.partitionBy(group) — must
    agree including NULL group keys (a plain equi-join would drop
    them; the kernel joins null-safe) and negative values."""
    rows = [
        Row(g="a", v=0, x=-3), Row(g="a", v=1, x=5),
        Row(g="a", v=(1 << ECDF_BLOCK_BITS), x=-1),
        Row(g="b", v=-(1 << ECDF_BLOCK_BITS), x=2), Row(g="b", v=7, x=0),
        Row(g=None, v=2, x=4), Row(g=None, v=(2 << ECDF_BLOCK_BITS), x=-9),
    ]
    df = spark.createDataFrame(rows).repartition(3)
    out = "x_cum" if agg == "sum" else "x_run"
    got = {
        (r["g"], r["v"]): r[out]
        for r in blocked_running(
            df, "v", ["x"], agg, inclusive, group_cols=["g"]
        ).collect()
    }
    end = 0 if inclusive else -1
    w = (
        Window.partitionBy("g")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, end)
    )
    fn = F.sum if agg == "sum" else F.max
    ref = fn("x").over(w)
    if agg == "sum" and not inclusive:
        ref = F.coalesce(ref, F.lit(0))
    want = {
        (r["g"], r["v"]): r["ref"]
        for r in df.select("g", "v", ref.alias("ref")).collect()
    }
    assert got == want, (agg, inclusive)


def test_asof_join_tie_resolves_to_max_payload(spark):
    """right-side (key, ts) ties must deterministically yield the MAX
    payload struct — the kernel's documented convention (ordering
    tied right rows by payload inside the one window; no dedup
    shuffle)."""
    import datetime

    from rsbsa_etl_spark.operators.joins import asof_join

    t = datetime.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame(
        [(1, 10, t)], ["event_id", "k", "ts"]
    )
    right = spark.createDataFrame(
        [(10, t, 5.0), (10, t, 9.0), (10, t, 1.0)], ["k", "ts", "value"]
    ).repartition(3)
    out = asof_join(
        left, right, "k", "ts", ["ts", "value"]
    ).collect()
    assert len(out) == 1
    assert out[0]["value_asof"] == 9.0  # max among the tied rows


def test_join_nearest_is_bruteforce_nearest(spark, sf_dir):
    """every click's matched view must be the truly closest view by
    |Δts| (ties backward), verified against a brute-force pass."""
    from rsbsa_etl_spark.operators.analytics import join_nearest
    from rsbsa_etl_spark.sources.fixtures import load

    events = load(spark, sf_dir, "events")
    rows = events.select(
        "event_id", "user_id", "event_type",
        F.unix_micros("ts").alias("us"), "value",
    ).collect()
    views = {}
    for r in rows:
        if r["event_type"] == "view":
            views.setdefault(r["user_id"], []).append((r["us"], r["value"]))
    got = {r["event_id"]: r for r in join_nearest(events).collect()}
    n_checked = 0
    for r in rows:
        if r["event_type"] != "click":
            continue
        vs = views.get(r["user_id"], [])
        out = got[r["event_id"]]
        if not vs:
            assert out["view_ts_us"] is None
            continue
        best_gap = min(abs(v[0] - r["us"]) for v in vs)
        assert out["gap_us"] == best_gap, r["event_id"]
        # ties backward: if both directions achieve the gap, the
        # backward (earlier) view must win
        back = [v for v in vs if r["us"] - v[0] == best_gap]
        if back:
            assert out["view_ts_us"] == r["us"] - best_gap
        n_checked += 1
    assert n_checked > 50


def test_basket_pairs_matches_bruteforce(spark, sf_dir):
    from itertools import combinations

    from rsbsa_etl_spark.operators.analytics import basket_pairs
    from rsbsa_etl_spark.sources.fixtures import load

    li = load(spark, sf_dir, "lineitem")
    orders = {}
    for r in li.select("l_orderkey", "l_partkey").collect():
        orders.setdefault(r["l_orderkey"], set()).add(r["l_partkey"])
    support = {}
    for parts in orders.values():
        for a, b in combinations(sorted(parts), 2):
            support[(a, b)] = support.get((a, b), 0) + 1
    want = sorted(
        support.items(), key=lambda kv: (-kv[1], kv[0])
    )[:25]
    got = [
        ((r["p1"], r["p2"]), r["support"])
        for r in basket_pairs(li).orderBy("rk").collect()
    ]
    assert got == want


def test_attribution_first_touch_matches_bruteforce(spark, sf_dir):
    from rsbsa_etl_spark.operators.analytics import attribution_first_touch
    from rsbsa_etl_spark.sources.fixtures import load

    events = load(spark, sf_dir, "events")
    rows = sorted(
        (
            (r["user_id"], r["us"], r["event_id"], r["event_type"],
             r["value"])
            for r in events.select(
                "user_id", F.unix_micros("ts").alias("us"), "event_id",
                "event_type", "value",
            ).collect()
        ),
        key=lambda t: (t[0], t[1], t[2]),
    )
    first_click = {}
    want = {}
    for uid, us, eid, typ, val in rows:
        if typ == "click" and uid not in first_click:
            first_click[uid] = (eid, us, val)
        if typ == "purchase":
            want[eid] = first_click.get(uid)
    got = {
        r["event_id"]: (r["click_event_id"], r["click_ts_us"],
                        r["click_value"])
        for r in attribution_first_touch(events).collect()
    }
    assert set(got) == set(want)
    for eid, w in want.items():
        assert got[eid] == (w if w else (None, None, None)), eid


def test_seq_trigrams_matches_bruteforce(spark, sf_dir):
    from collections import Counter

    from rsbsa_etl_spark.operators.analytics import seq_trigrams
    from rsbsa_etl_spark.sources.fixtures import load

    events = load(spark, sf_dir, "events")
    per_user = {}
    for r in sorted(
        events.select(
            "user_id", F.unix_micros("ts").alias("us"), "event_id",
            "event_type",
        ).collect(),
        key=lambda r: (r["user_id"], r["us"], r["event_id"]),
    ):
        per_user.setdefault(r["user_id"], []).append(r["event_type"])
    c = Counter()
    for seq in per_user.values():
        for i in range(len(seq) - 2):
            c[(seq[i], seq[i + 1], seq[i + 2])] += 1
    want = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:25]
    got = [
        ((r["t1"], r["t2"], r["t3"]), r["n"])
        for r in seq_trigrams(events).orderBy("rk").collect()
    ]
    assert got == want


def test_greedy_mmr_tiebreaks_and_directional_pairs():
    """the greedy kernel: equal mmr scores pick the smallest doc_id;
    the pairs lookup is DIRECTIONAL, matching the oracle unroll's
    rounds>=2 join exactly (a_id = candidate, b_id = selected) — a
    pair present only in the REVERSE orientation does NOT link the
    candidate (producers of symmetric sims must emit both
    orientations, as _greedy_mmr does by construction), and a pool
    doc with no candidate→selected pair at all is UNPICKABLE after
    round 1 (e.g. a hybrid pool doc with no embedding row)."""
    from rsbsa_etl_spark.functions.retrieval import _make_greedy_kernel
    from rsbsa_etl_spark.params import MMR_W_DIV, MMR_W_REL

    cand = {10: 100, 11: 100, 12: 90}
    # (11→10): candidate-oriented pair — links AND penalizes 11.
    # (10→12): REVERSE-only for candidate 12 — by the oracle's join
    # this does NOT link 12; doc 12 has no candidate-oriented pair.
    present = {(11, 10), (10, 12)}
    sim = {(11, 10): 1_000_000, (10, 12): 500_000}
    out = {
        pick: (did, mmr_i)
        for did, _rel, pick, mmr_i in _make_greedy_kernel()(
            cand, present, sim, 3
        )
    }
    # pick 1: rel tie 10 vs 11 → smallest doc_id (10)
    assert out[1][0] == 10
    # pick 2: 12 is unlinked (its only pair is reverse-oriented) so
    # the oracle's inner join excludes it; 11 wins even though
    # heavily penalized by sim(11→10)
    assert out[2] == (11, MMR_W_REL * 100 - MMR_W_DIV * 1_000_000)
    # pick 3: only 12 remains, still no candidate-oriented pair to
    # any selected doc → no further pick (the oracle's empty r3 CTE)
    assert 3 not in out and len(out) == 2


def test_greedy_mmr_null_sims_rank_last():
    """oracle-parity for NULL sim_i (a zero-norm pool embedding): SQL
    max() skips NULLs, so a candidate whose every sim-to-selected is
    NULL gets mmr_i = NULL and ranks LAST (DuckDB's NULLS LAST under
    ORDER BY mmr_i DESC) — but remains pickable when every candidate
    is NULL, smallest doc_id first. The kernel must not crash on
    None nor silently treat NULL as sim 0."""
    from rsbsa_etl_spark.functions.retrieval import _make_greedy_kernel
    from rsbsa_etl_spark.params import MMR_W_DIV, MMR_W_REL

    cand = {10: 100, 11: 95, 12: 10}
    # 11→10 is present with a NULL sim (absent from ``sim``); 12→10
    # has a real tiny sim
    present = {(11, 10), (12, 10)}
    sim = {(12, 10): 5}
    out = {
        pick: (did, mmr_i)
        for did, _rel, pick, mmr_i in _make_greedy_kernel()(
            cand, present, sim, 3
        )
    }
    assert out[1][0] == 10
    # round 2: 11's only sim is NULL → mmr NULL → ranks below 12's
    # real score despite rel 95 vs 10
    assert out[2] == (12, MMR_W_REL * 10 - MMR_W_DIV * 5)
    # round 3: only 11 left; all-NULL sims → picked with NULL mmr
    assert out[3] == (11, None)


def test_greedy_kernel_folds_each_query_independently():
    """one kernel instance folds many queries in turn (a Python
    worker runs every group of its partition through the same
    closure): no state may leak between calls. The two kernel
    fixtures above as two queries, folded in both orders, must give
    the per-query picks of a fresh kernel each."""
    from rsbsa_etl_spark.functions.retrieval import _make_greedy_kernel

    queries = {
        1: ({10: 100, 11: 100, 12: 90}, {(11, 10), (10, 12)},
            {(11, 10): 1_000_000, (10, 12): 500_000}),
        2: ({10: 100, 11: 95, 12: 10}, {(11, 10), (12, 10)},
            {(12, 10): 5}),
    }
    fresh = {
        q: _make_greedy_kernel()(*args, 3) for q, args in queries.items()
    }
    shared = _make_greedy_kernel()
    for order in ([1, 2, 1], [2, 1, 2]):
        for q in order:
            assert shared(*queries[q], 3) == fresh[q]
    assert len(fresh[1]) + len(fresh[2]) == 5  # q1 picks 2, q2 picks 3


def test_mmr_public_api_accepts_one_shot_iterator(spark, sf_dir):
    """query_ids is public API and a generator is a legal argument:
    the entry points consume it more than once (mmr_rerank_auto's
    length check, the pool build), so without up-front normalization
    a one-shot iterator would be drained early and silently produce
    an EMPTY result. Both entry points pinned."""
    from rsbsa_etl_spark.functions.retrieval import hybrid_mmr, mmr_rerank

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ids = [r[0] for r in
           emb.select("vec_id").orderBy("vec_id").limit(3).collect()]
    from_list = mmr_rerank(emb, query_ids=ids).collect()
    from_gen = mmr_rerank(emb, query_ids=(i for i in ids)).collect()
    assert len(from_list) > 0 and sorted(map(tuple, from_gen)) == sorted(
        map(tuple, from_list)
    )
    out = hybrid_mmr(docs, emb, query_ids=iter(ids))
    assert len(out.collect()) > 0
    out.unpersist()


def test_greedy_kernel_reads_weights_at_call_time(monkeypatch):
    """the λ weights must be read when the kernel is BUILT —
    ``_greedy_mmr`` builds it per call — not frozen at module import:
    the oracle SQL interpolates MMR_W_REL/MMR_W_DIV at its own build
    time, so an import-time kernel instance would silently diverge
    from a monkeypatched oracle. Patch the params, build the kernel,
    expect the patched arithmetic in mmr_i."""
    from rsbsa_etl_spark import params
    from rsbsa_etl_spark.functions.retrieval import _make_greedy_kernel

    monkeypatch.setattr(params, "MMR_W_REL", 9)
    monkeypatch.setattr(params, "MMR_W_DIV", 1)
    out = {
        pick: (did, mmr_i)
        for did, _rel, pick, mmr_i in _make_greedy_kernel()(
            {10: 100, 11: 95}, {(11, 10), (10, 11)},
            {(11, 10): 7, (10, 11): 7}, 2,
        )
    }
    assert out[1] == (10, 9 * 100)
    assert out[2] == (11, 9 * 95 - 1 * 7)


def _reference_pairwise_sims(pv):
    """the in-pool similarity expression the grouped MMR kernel
    replaced, kept as the test's reference: a (query_id) self-join of
    the pool's embedding rows, the zip_with/aggregate dot, safe_div
    by the norm product, the 1e-6 floor — NULL on a zero or NULL norm
    product, a NULL vector or element, or ragged lengths."""
    from rsbsa_etl_spark.functions.similarity import dot, safe_div

    a = pv.select(
        "query_id",
        F.col("doc_id").alias("a_id"),
        F.col("vd").alias("va"),
        F.col("nd").alias("na"),
    )
    b = pv.select(
        "query_id",
        F.col("doc_id").alias("b_id"),
        F.col("vd").alias("vb"),
        F.col("nd").alias("nb"),
    )
    sim_i = F.floor(
        safe_div(dot(F.col("va"), F.col("vb")), F.col("na") * F.col("nb"))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    return (
        a.join(b, ["query_id"])
        .where(F.col("a_id") != F.col("b_id"))
        .select("query_id", "a_id", "b_id", sim_i.alias("sim_i"))
    )


def test_greedy_mmr_degenerate_pool_matches_reference(spark):
    """the grouped kernel's own similarities on a hand-built pool of
    degenerate vectors must give the picks of ``fold_one`` over the
    reference expression's sims: a zero-norm vector, a NULL vector,
    a vector holding a NULL element, a NULL norm, a 63/64-length
    ragged pair (and a real 63-length pair), and a hybrid-style doc
    with no embedding row (has_vec false — unpickable after round
    1). A second query checks that groups do not share state."""
    import math

    from rsbsa_etl_spark.functions.retrieval import (
        _greedy_mmr,
        _make_greedy_kernel,
    )
    from rsbsa_etl_spark.params import MMR_W_REL

    def vec(seed, d=64):
        return [float(((seed * 37 + i * 11) % 17) - 8) / 8.0 for i in range(d)]

    def norm(v):
        acc = 0.0
        for x in v:
            acc = acc + x * x
        return math.sqrt(acc)

    near1 = [x + 0.01 * (i % 3) for i, x in enumerate(vec(1))]
    v63a, v63b = vec(5, 63), vec(6, 63)
    with_null = vec(4)
    with_null[7] = None
    # (query_id, doc_id, rel_i, vd, nd, has_vec)
    rows = [
        (1, 1, 900_000, vec(1), norm(vec(1)), True),
        (1, 2, 850_000, [0.0] * 64, 0.0, True),  # zero norm
        (1, 3, 800_000, None, None, True),  # NULL vector
        (1, 4, 780_000, with_null, norm(vec(4)), True),  # NULL element
        (1, 5, 760_000, v63a, norm(v63a), True),  # ragged vs the 64s
        (1, 6, 740_000, near1, norm(near1), True),
        (1, 7, 720_000, vec(9), norm(vec(9)), True),
        (1, 8, 700_000, None, None, False),  # no embedding row
        (1, 9, 650_000, v63b, norm(v63b), True),  # real 63-length pair
        (1, 10, 600_000, vec(3), None, True),  # NULL norm
        (2, 1, 500_000, vec(1), norm(vec(1)), True),
        (2, 6, 500_000, near1, norm(near1), True),
        (2, 7, 400_000, vec(9), norm(vec(9)), True),
        (2, 8, 990_000, None, None, False),  # wins round 1, then stops
    ]
    pool = spark.createDataFrame(
        rows,
        "query_id long, doc_id long, rel_i long, vd array<double>, "
        "nd double, has_vec boolean",
    )
    k = 9
    got = sorted(
        (r["query_id"], r["pick_order"], r["doc_id"], r["rel_i"], r["mmr_i"])
        for r in _greedy_mmr(pool, k).collect()
    )

    present: dict = {}
    sims: dict = {}
    for r in _reference_pairwise_sims(pool.where("has_vec")).collect():
        kk = (r["a_id"], r["b_id"])
        present.setdefault(r["query_id"], set()).add(kk)
        if r["sim_i"] is not None:
            sims.setdefault(r["query_id"], {})[kk] = r["sim_i"]
    fold_one = _make_greedy_kernel()
    want = sorted(
        (q, pick, did, rel, mmr_i)
        for q in (1, 2)
        for did, rel, pick, mmr_i in fold_one(
            {r[1]: r[2] for r in rows if r[0] == q},
            present.get(q, set()),
            sims.get(q, {}),
            k,
        )
    )
    assert got == want
    # the inputs reach the rules they are meant to: NULL sims for the
    # zero-norm, NULL, NULL-element and ragged rows, a real sim for
    # the 63-length pair, and no pair at all for doc 8
    assert (5, 9) in sims[1] and (5, 1) not in sims[1]
    assert not {(2, 1), (3, 1), (4, 1), (10, 1), (1, 2)} & set(sims[1])
    assert all(8 not in kk for kk in present[1] | present[2])
    picked = {(q, did) for q, _p, did, _r, _m in got}
    assert (1, 8) not in picked
    assert [g for g in got if g[0] == 2] == [
        (2, 1, 8, 990_000, MMR_W_REL * 990_000)
    ]
    assert any(g[4] is None for g in got)  # an all-NULL-sims pick


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def test_mmr_plan_is_one_lazy_grouped_kernel(spark, sf_dir):
    """mmr_rerank and mmr_rerank_ivf build a lazy plan: one grouped
    Arrow selection stage (no cogroup, no driver fold), the brute
    pool's scoring as ONE MapInArrow under ONE exchange (the ranking
    window's query_id partitioning is reused by the groupBy), and no
    cache left behind once the result is collected."""
    from rsbsa_etl_spark.functions.retrieval import (
        mmr_rerank,
        mmr_rerank_ivf,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")

    def n_persisted() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    spark.catalog.clearCache()
    for fn, brute in ((mmr_rerank, True), (mmr_rerank_ivf, False)):
        base = n_persisted()
        out = fn(emb)
        assert len(out.collect()) > 0
        plan = _final_plan(out)
        assert plan.count("FlatMapGroupsInArrow") == 1, plan
        assert "FlatMapCoGroupsIn" not in plan, plan
        if brute:
            assert plan.count("MapInArrow") == 1, plan
            assert plan.count("Exchange hashpartitioning") == 1, plan
        assert n_persisted() == base, f"{fn.__name__} left a cache"


def test_mmr_distributed_arm_releases_pool_cache(spark, sf_dir):
    """no MMR entry point strands a pool-sized cache: a long-lived
    serving process calling per batch would otherwise accumulate
    queries × pool_k cached blocks per call. mmr_rerank is lazy and
    holds no cache at all; hybrid_mmr's eager build releases its pool
    and the hybrid corpus cache, so the only surviving persist is the
    result-sized frame it returns."""
    from rsbsa_etl_spark.functions.retrieval import hybrid_mmr, mmr_rerank

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    ids = [r[0] for r in
           emb.select("vec_id").orderBy("vec_id").limit(3).collect()]

    def n_persisted() -> int:
        return spark.sparkContext._jsc.sc().getPersistentRDDs().size()

    spark.catalog.clearCache()
    base = n_persisted()
    out = mmr_rerank(emb, query_ids=ids)
    assert len(out.collect()) > 0
    assert n_persisted() - base == 0, "mmr_rerank left a persist behind"
    spark.catalog.clearCache()
    out = hybrid_mmr(docs, emb, query_ids=ids)
    assert len(out.collect()) > 0
    assert n_persisted() <= 1, (
        "hybrid_mmr strands the pool/corpus persists"
    )
    out.unpersist()
    assert n_persisted() == 0, "the caller cannot release hybrid_mmr's result"


def test_hll_estimate_within_error_bound(spark, sf_dir):
    """accuracy evidence per Flajolet's two ranges: below 2.5·m the
    raw estimator is KNOWN-biased and the consumer-side linear count
    m·ln(m/V) from the emitted n_zero_registers must track truth;
    above it the raw estimate itself must land within ~4 rse
    (1.04/sqrt(64) ≈ 13%). A sketch drifting outside these is wired
    wrong, not just noisy."""
    import math

    from rsbsa_etl_spark.operators.analytics import HLL_M, hll_sketch
    from rsbsa_etl_spark.sources.fixtures import load

    events = load(spark, sf_dir, "events")
    truth = {
        r["event_type"]: r["n"]
        for r in events.where(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    truth["ALL"] = (
        events.where(F.col("user_id").isNotNull())
        .select("user_id")
        .distinct()
        .count()
    )
    checked = 0
    for r in hll_sketch(events).collect():
        exact = truth[r["event_type"]]
        if exact <= 2.5 * HLL_M:
            v = r["n_zero_registers"]
            assert v > 0, r["event_type"]  # small n must leave zeros
            linear = HLL_M * math.log(HLL_M / v)
            assert abs(linear - exact) <= 0.35 * exact + 6, (
                r["event_type"], linear, exact,
            )
        else:
            assert abs(r["hll_raw_est"] - exact) <= 0.52 * exact, (
                r["event_type"], r["hll_raw_est"], exact,
            )
        checked += 1
    assert checked >= 2


def test_source_overlap_sketch_tracks_exact_jaccard(spark, sf_dir):
    """j_kmv is an estimate of j_exact — every pair must stay within
    the k=256 sketch's plausible band (|err| ≤ ~4/sqrt(k) + small
    slack), and the two must correlate in rank ordering overall."""
    from rsbsa_etl_spark.operators.analytics import source_overlap_kmv
    from rsbsa_etl_spark.sources.fixtures import load

    rows = source_overlap_kmv(load(spark, sf_dir, "documents")).collect()
    assert rows
    errs = [abs(r["j_kmv"] - r["j_exact"]) for r in rows]
    assert max(errs) <= 0.3, max(errs)
    # aggregate calibration: mean error well under the per-pair cap
    assert sum(errs) / len(errs) <= 0.1


def test_winsorize_stats_matches_bruteforce(spark, sf_dir):
    """winsorize_stats vs a pure-Python reference: exact rank-pick
    bounds (lo at ceil(n/20), hi at ceil(19n/20) over the sorted
    multiset), clip, exact fixed-point sums — every column must
    match, including the clip counts."""
    from rsbsa_etl_spark.operators.analytics import winsorize_stats
    from rsbsa_etl_spark.params import (
        WINSOR_DEN,
        WINSOR_HI_NUM,
        WINSOR_LO_NUM,
    )
    from rsbsa_etl_spark.sources.fixtures import load

    events = load(spark, sf_dir, "events")
    rows = events.where(
        F.col("value").isNotNull() & F.col("event_type").isNotNull()
    ).select("event_type", "value").collect()
    import math

    by_g: dict = {}
    for r in rows:
        vi = math.floor(r["value"] * 1e4 + 0.5)  # the engine's floor form
        by_g.setdefault(r["event_type"], []).append(vi)

    def ceil_div(a, b):
        return (a + b - 1) // b

    want = {}
    for g, vs in by_g.items():
        vs.sort()
        n = len(vs)
        lo = vs[ceil_div(n * WINSOR_LO_NUM, WINSOR_DEN) - 1]
        hi = vs[ceil_div(n * WINSOR_HI_NUM, WINSOR_DEN) - 1]
        clipped = [min(max(v, lo), hi) for v in vs]
        n_clip = sum(1 for v in vs if v < lo or v > hi)
        rnd = lambda x, s: math.floor(x * 10**s + 0.5) / 10**s  # noqa: E731
        want[g] = (
            n,
            rnd(lo / 1e4, 4),
            rnd(hi / 1e4, 4),
            rnd(sum(vs) / n / 1e4, 6),
            rnd(sum(clipped) / n / 1e4, 6),
            n_clip,
        )

    got = {
        r["event_type"]: (
            r["n"], r["p_lo"], r["p_hi"],
            r["mean_raw"], r["mean_winsorized"], r["n_clipped"],
        )
        for r in winsorize_stats(events).collect()
    }
    assert got == want


def test_token_gini_matches_bruteforce(spark, sf_dir):
    """token_gini vs a pure-Python recomputation over the same
    normalize→split→drop-empties token stream: exact n/n_distinct
    and the one-division ttr/gini doubles."""
    import math
    import re

    from rsbsa_etl_spark.functions.textstats import token_gini
    from rsbsa_etl_spark.sources.fixtures import load

    docs = load(spark, sf_dir, "documents")
    want = {}
    for r in docs.select("doc_id", "text").collect():
        if r["text"] is None:
            continue
        toks = [
            t for t in re.sub(r"\s+", " ", r["text"].strip().lower()).split(" ")
            if t
        ]
        if not toks:
            continue
        n = len(toks)
        from collections import Counter

        cnt = Counter(toks)
        ss = sum(c * c for c in cnt.values())
        rnd = lambda x, s: math.floor(x * 10**s + 0.5) / 10**s  # noqa: E731
        want[r["doc_id"]] = (
            n,
            len(cnt),
            rnd(len(cnt) / n, 6),
            rnd((n * n - ss) / (n * n), 6),
        )
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_distinct"], r["ttr"], r["gini"])
        for r in token_gini(docs).collect()
    }
    assert got == want


def test_winsorize_rank_picks_on_ties_and_tiny_groups(spark):
    """adversarial bound picks: heavy ties exactly at the rank
    boundary, a group smaller than the clip denominators (n < 20 →
    lo rank = ceil(n/20) = 1 → lo = min, hi rank = ceil(19n/20) ≤ n),
    and a single-value group (lo = hi = the value, nothing clipped).
    The integer rank arithmetic must land on actual elements."""
    from rsbsa_etl_spark.operators.analytics import winsorize_stats

    rows = []
    # group "ties": 40 values — twenty 1.0s then twenty 9.0s.
    # n=40: lo rank = ceil(40/20) = 2 → sorted[2-1] = 1.0;
    # hi rank = ceil(760/20) = 38 → sorted[37] = 9.0 → nothing clips.
    for i in range(20):
        rows.append(("ties", 1.0))
        rows.append(("ties", 9.0))
    # group "tiny": 3 values — lo rank ceil(3/20)=1 → min (2.0);
    # hi rank ceil(57/20)=3 → max (8.0) → nothing clips.
    rows += [("tiny", 2.0), ("tiny", 5.0), ("tiny", 8.0)]
    # group "one": single value — lo = hi = 4.0.
    rows += [("one", 4.0)]
    # group "tail": 1..100 — lo rank 5 → 5.0, hi rank 95 → 95.0,
    # 4 clipped below + 5 clipped above = 9.
    rows += [("tail", float(i)) for i in range(1, 101)]
    df = spark.createDataFrame(rows, "event_type string, value double")
    got = {
        r["event_type"]: (
            r["n"], r["p_lo"], r["p_hi"], r["n_clipped"],
            r["mean_raw"], r["mean_winsorized"],
        )
        for r in winsorize_stats(df).collect()
    }
    assert got["ties"] == (40, 1.0, 9.0, 0, 5.0, 5.0)
    assert got["tiny"] == (3, 2.0, 8.0, 0, 5.0, 5.0)
    assert got["one"] == (1, 4.0, 4.0, 0, 4.0, 4.0)
    n, lo, hi, clipped, mean_raw, mean_w = got["tail"]
    assert (n, lo, hi, clipped) == (100, 5.0, 95.0, 9)
    assert mean_raw == 50.5
    # winsorized: values 1-4 → 5 (adds 4+3+2+1=10), 96-100 → 95
    # (removes 1+2+3+4+5=15): (5050 + 10 - 15) / 100 = 50.45
    assert mean_w == 50.45


def test_chunked_block_sweep_is_bit_identical(spark, monkeypatch):
    """round 9: the bounded-memory chunk sweep (MAX_BLOCK_ELEMS) must
    be invisible to results. Force pathologically tiny chunks (7
    matrix elements → every block takes the chunked path, many chunks
    per block, off-diagonal pays the reverse matmul) and compare
    cosine_pairs / knn_graph / cosine_pairs_bipartite bit-for-bit
    against the default path on the driver fixture."""
    from rsbsa_etl_spark.functions import similarity as S
    from rsbsa_etl_spark.sources.fixtures import load

    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    new = emb.where(S.F.col("vec_id") % 7 == 0).select(
        (S.F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )

    def snap():
        pairs = {tuple(r) for r in S.cosine_pairs(emb).collect()}
        graph = {tuple(r) for r in S.knn_graph(emb, 5).collect()}
        bip = {tuple(r) for r in S.cosine_pairs_bipartite(new, emb).collect()}
        ivf = {tuple(r) for r in S.knn_graph_ivf(emb, 5).collect()}
        return pairs, graph, bip, ivf

    base = snap()
    assert all(len(s) > 0 for s in base)
    monkeypatch.setattr(S, "MAX_BLOCK_ELEMS", 7)
    assert snap() == base
