"""Property-based invariants (SURVEY §5.2.3) — hypothesis drives the
semantics that must hold for any input, cross-checked against DuckDB
where the portability layer is the thing under test.
"""

from __future__ import annotations

import ast
from pathlib import Path

import duckdb
import pytest
from hypothesis import given, settings, strategies as st

from rsbsa_etl_spark.functions.numeric import sql_round, sql_sum_fixed
from rsbsa_etl_spark.operators.sync import overwrite_by_key, upsert_merge
from rsbsa_etl_spark.functions.strings import uppercase_fields

finite_doubles = st.floats(
    min_value=-1e9, max_value=1e9, allow_nan=False, allow_infinity=False
)


@settings(max_examples=200, deadline=None)
@given(st.lists(finite_doubles, min_size=1, max_size=50), st.integers(0, 6))
def test_portable_round_matches_duckdb(xs, scale):
    """the floor-quantize formula gives bit-identical results in
    DuckDB — the cross-engine contract every oracle relies on."""
    con = duckdb.connect()
    q = float(10**scale)
    for x in xs:
        # NB: the literal must go in as a quoted string — DuckDB
        # parses bare numeric literals via DECIMAL, whose int64
        # mantissa loses the low bit beyond 15 significant digits
        # (e.g. -900719926.3984375 parses 1 ulp off). String→DOUBLE
        # casts are exact strtod. Oracle SQL only ever embeds short
        # literals (params.py constants), so the engine contract is
        # unaffected; this pins the harness convention.
        (d,) = con.execute(f"SELECT {sql_round(chr(39) + repr(x) + chr(39), scale)}").fetchone()
        import math

        py = math.floor(x * q + 0.5) / q
        assert d == py or (d != d and py != py), (x, scale, d, py)
    con.close()


@settings(max_examples=100, deadline=None)
@given(st.lists(finite_doubles, min_size=1, max_size=100))
def test_portable_sum_is_order_independent(xs):
    """scaled-integer sums are associative: any permutation gives
    the same result (double sums would not)."""
    import math

    q = 100.0
    total = sum(int(math.floor(x * q + 0.5)) for x in xs)
    rev = sum(int(math.floor(x * q + 0.5)) for x in reversed(xs))
    assert total == rev
    con = duckdb.connect()
    vals = ", ".join(f"({x!r})" for x in xs)
    (d,) = con.execute(
        f"SELECT {sql_sum_fixed('x', 2)} FROM (VALUES {vals}) t(x)"
    ).fetchone()
    assert d == total / q
    con.close()


def test_hex_prefix_hash_has_one_spark_home():
    """``conv`` (hex digits → BIGINT, the hash ``oracles._hexpoly``
    mirrors) is called only in ``functions/numeric.py``, so no call
    site can drift from the oracle's scheme."""
    pkg = Path(__file__).resolve().parent.parent / "rsbsa_etl_spark"
    sites = set()
    for path in sorted(pkg.rglob("*.py")):
        for call in ast.walk(ast.parse(path.read_text())):
            if isinstance(call, ast.Call) and "conv" in (
                getattr(call.func, "attr", None), getattr(call.func, "id", None)
            ):
                sites.add(path.relative_to(pkg).as_posix())
    assert sites == {"functions/numeric.py"}


names = st.one_of(st.none(), st.text(min_size=0, max_size=20))


@pytest.fixture(scope="module")
def sp(spark):
    return spark


@settings(max_examples=20, deadline=None)
@given(st.lists(st.tuples(st.integers(0, 100), names), min_size=1, max_size=20))
def test_uppercase_idempotent_and_null_preserving(sp, rows):
    """F1: upper∘upper ≡ upper; nulls pass through untouched
    (``etlService.js:193-201`` guard semantics)."""
    df = sp.createDataFrame(rows, "id int, name string")
    once = uppercase_fields(df, ["name"])
    twice = uppercase_fields(once, ["name"])
    key = lambda t: (t[0], t[1] is not None, t[1] or "")
    a = sorted(map(tuple, once.collect()), key=key)
    b = sorted(map(tuple, twice.collect()), key=key)
    assert a == b
    for (_, orig), (_, up) in zip(sorted(rows, key=key), a):
        assert (orig is None) == (up is None)


kv = st.lists(
    st.tuples(st.integers(0, 20), st.integers(0, 1000)), min_size=0, max_size=30
)


@settings(max_examples=20, deadline=None)
@given(kv, kv)
def test_upsert_idempotent_and_last_write_wins(sp, target_rows, update_rows):
    """K2: upsert(t, u) applied twice ≡ once; every update key holds
    the update's value; non-updated target keys survive."""
    # one row per key on each side (one-to-one table semantics)
    t = {k: v for k, v in target_rows}
    u = {k: v for k, v in update_rows}
    target = sp.createDataFrame(list(t.items()) or [(None, None)], "k int, v int").where(
        "k is not null"
    )
    updates = sp.createDataFrame(list(u.items()) or [(None, None)], "k int, v int").where(
        "k is not null"
    )
    once = upsert_merge(target, updates, "k")
    twice = upsert_merge(once, updates, "k")
    got_once = dict(map(tuple, once.collect()))
    got_twice = dict(map(tuple, twice.collect()))
    assert got_once == got_twice
    assert got_once == {**t, **u}


@settings(max_examples=20, deadline=None)
@given(kv, kv)
def test_overwrite_replaces_whole_key_groups(sp, target_rows, incoming_rows):
    """K3: delete-then-insert — for every incoming key, exactly the
    incoming rows remain; untouched keys keep all their rows."""
    target = sp.createDataFrame(target_rows or [(0, 0)], "k int, v int")
    incoming = sp.createDataFrame(incoming_rows or [(0, 0)], "k int, v int")
    if not target_rows:
        target = target.where("false")
    if not incoming_rows:
        incoming = incoming.where("false")
    out = overwrite_by_key(target, incoming, "k")
    got = sorted(map(tuple, out.collect()))
    in_keys = {k for k, _ in incoming_rows}
    want = sorted(incoming_rows + [(k, v) for k, v in target_rows if k not in in_keys])
    assert got == want


def test_curation_invariants(spark):
    """structural invariants of the curation family at sf0.001:
    packing partitions the token stream with no gaps or overlaps per
    shard; segment dedup never keeps more than it saw; temperature
    sampling is a per-domain subset with small domains kept whole."""
    from pyspark.sql import functions as F

    from rsbsa_etl_spark import params as P
    from rsbsa_etl_spark.functions import curation
    from rsbsa_etl_spark.sources.fixtures import load

    from tests.conftest import SF_DIR

    docs = load(spark, SF_DIR, "documents")

    # pack_sequences: per source, offsets tile the stream exactly
    packed = curation.pack_sequences(docs).toPandas()
    for _, g in packed.groupby("source"):
        g = g.sort_values("doc_id")
        expect = 0
        for _, row in g.iterrows():
            assert row.start_off == expect
            assert row.first_block == row.start_off // P.PACK_CAPACITY
            assert row.last_block >= row.first_block
            expect = row.start_off + row.n_tokens

    # segment dedup: kept <= total, every doc retains >= 0, and the
    # corpus-wide kept count equals the number of DISTINCT segments
    seg = curation.segment_dedup_stats(docs)
    agg = seg.agg(
        F.sum("n_kept").alias("kept"), F.sum("n_segs").alias("segs")
    ).collect()[0]
    assert 0 < agg.kept <= agg.segs

    # temperature sample: subset of docs; domains at/below K^2 kept whole
    sampled = curation.temperature_sample(docs).toPandas()
    assert sampled.doc_id.is_unique
    n_docs = docs.count()
    assert 0 < len(sampled) < n_docs
    whole = sampled[sampled.c_d <= P.SAMPLE_K * P.SAMPLE_K]
    if len(whole):
        per_domain = whole.groupby("domain").agg(n=("doc_id", "size"), c=("c_d", "first"))
        assert (per_domain.n == per_domain.c).all()


def test_group_sample_matches_python_ranking(spark):
    """group_sample_n vs an independent pure-Python ranking (same
    salted md5 priority computed with hashlib) on adversarially
    skewed groups and stress values of n."""
    import hashlib

    from rsbsa_etl_spark.operators.analytics import group_sample_n

    rows = (
        [(i, "a") for i in range(1)]
        + [(100 + i, "b") for i in range(7)]
        + [(1000 + i, "c") for i in range(400)]
    )
    ev = spark.createDataFrame(rows, "event_id long, event_type string")

    def pri(eid: int) -> int:
        return int(hashlib.md5(f"gs1|{eid}".encode()).hexdigest()[:8], 16)

    for n in [1, 3, 50]:
        got = {
            (r.event_id, r.event_type, r.rn)
            for r in group_sample_n(ev, n=n).collect()
        }
        want = set()
        for grp in ("a", "b", "c"):
            members = sorted(
                (eid for eid, g in rows if g == grp),
                key=lambda e: (pri(e), e),
            )
            for rk, eid in enumerate(members[:n], start=1):
                want.add((eid, grp, rk))
        assert got == want, n


def test_new_operators_handle_empty_input(spark):
    """degenerate-input hardening: every late-round-4 operator must
    return an EMPTY result (not crash) on an empty corpus — empty
    partitions, empty windows, and empty persists all occur at the
    tail of real filter chains."""
    from pyspark.sql import types as T

    from rsbsa_etl_spark.functions import curation, dedup
    from rsbsa_etl_spark.operators.analytics import (
        burst_detect,
        group_sample_n,
        kmv_merge_eval,
    )
    from rsbsa_etl_spark.sources.sinks import compaction_plan

    docs = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
                T.StructField("lang", T.StringType()),
                T.StructField("source", T.StringType()),
                T.StructField("n_chars", T.LongType()),
            ]
        ),
    )
    events = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("event_id", T.LongType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("event_type", T.StringType()),
            ]
        ),
    )
    assert curation.token_budget_sample(docs).count() == 0
    assert curation.fixed_n_sample(docs).count() == 0
    assert curation.adaptive_quality_filter(docs).count() == 0
    assert dedup.novelty_scores(docs).count() == 0
    assert compaction_plan(docs.select("source", "doc_id", "n_chars")).count() == 0
    assert burst_detect(events).count() == 0
    assert group_sample_n(events).count() == 0
    # the sketch eval emits its single summary row even when empty
    row = kmv_merge_eval(docs).collect()[0]
    assert row.exact_distinct == 0 and row.n_sources == 0


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=0,
        max_size=60,
    )
)
def test_triangle_stats_matches_python_bruteforce(sp, raw_edges):
    """triangle_stats == the O(n³) pure-Python count on arbitrary
    small graphs (self-loops dropped, edges canonicalized u<v)."""
    from itertools import combinations

    from rsbsa_etl_spark.functions.similarity import triangle_stats

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw_edges if a != b})
    nodes = sorted({n for e in edges for n in e})
    eset = set(edges)
    deg = {n: 0 for n in nodes}
    for u, v in edges:
        deg[u] += 1
        deg[v] += 1
    tri = {n: 0 for n in nodes}
    for a, b, c in combinations(nodes, 3):
        if (a, b) in eset and (b, c) in eset and (a, c) in eset:
            tri[a] += 1
            tri[b] += 1
            tri[c] += 1

    if not edges:
        edf = sp.createDataFrame([], "u long, v long")
    else:
        edf = sp.createDataFrame(edges, "u long, v long")
    got = {
        r.vec_id: (r.degree, r.tri_count, r.clustering)
        for r in triangle_stats(edf).collect()
    }
    assert set(got) == set(nodes)
    for n in nodes:
        d, t = deg[n], tri[n]
        expect_c = (
            __import__("math").floor(2.0 * t / (d * (d - 1)) * 1e4 + 0.5) / 1e4
            if d >= 2
            else 0.0
        )
        assert got[n] == (d, t, expect_c), (n, got[n], (d, t, expect_c))


def test_continuation_operators_handle_empty_input(spark):
    """same degenerate-input hardening for the continuation-session
    operators: empty corpus in, empty result out (null percentile
    boundaries, empty persisted subtrees, empty maps must all
    degrade silently)."""
    from pyspark.sql import types as T

    from rsbsa_etl_spark.functions.curation import k_anonymity
    from rsbsa_etl_spark.functions.similarity import (
        hard_negatives,
        knn_graph,
        triangle_stats,
    )
    from rsbsa_etl_spark.functions.textstats import feature_hash_vectors
    from rsbsa_etl_spark.operators.analytics import (
        quantile_bucketize,
        rfm_segments,
        ts_autocorr,
    )

    docs = spark.createDataFrame(
        [], "doc_id long, text string, lang string, source string, n_chars long"
    )
    events = spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string"
    )
    orders = spark.createDataFrame(
        [], "o_orderkey long, o_custkey long, o_totalprice double, "
        "o_orderdate timestamp"
    )
    emb = spark.createDataFrame(
        [],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
                T.StructField("label", T.IntegerType()),
            ]
        ),
    )
    lineitem = spark.createDataFrame(
        [], "l_orderkey long, l_linenumber int, l_extendedprice double"
    )
    edges = spark.createDataFrame([], "u long, v long")

    assert rfm_segments(orders).count() == 0
    assert ts_autocorr(events).count() == 0
    # the dataset card emits its one row with NULL ratios when empty
    from rsbsa_etl_spark.functions.textstats import corpus_summary

    card = corpus_summary(docs).collect()[0]
    assert card.n_docs == 0 and card.avg_doc_tokens is None
    # a constant daily series has zero variance: acf NULL, no crash
    import datetime as _dt

    const = spark.createDataFrame(
        [(i, _dt.datetime(2024, 1, 1 + i), 1, "t") for i in range(10)],
        "event_id long, ts timestamp, user_id long, event_type string",
    )
    accs = ts_autocorr(const).collect()
    assert len(accs) == 7 and all(r.acf is None for r in accs)

    # zero-variance groups: zscore emits no rows (NULL z filtered),
    # corr emits NULL r, the t-test on a single-arm corpus emits
    # NULL t — none of them crash under ANSI
    from rsbsa_etl_spark.operators.profiling import (
        ab_ttest,
        corr_groups,
        zscore_outliers,
    )

    const_ev = spark.createDataFrame(
        [(i, _dt.datetime(2024, 1, 1), i, "t", 5.0) for i in range(4)],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double",
    )
    assert zscore_outliers(const_ev).count() == 0
    one_user = const_ev.withColumn("user_id", const_ev.user_id * 0)
    tt = ab_ttest(one_user).collect()[0]
    assert tt.t_stat is None and (tt.mean_a is None) != (tt.mean_b is None)
    const_li = spark.createDataFrame(
        [(1.0, 7.0, "A"), (1.0, 9.0, "A")],
        "l_quantity double, l_extendedprice double, l_returnflag string",
    )
    row = corr_groups(const_li).collect()[0]
    assert row.corr_qty_price is None

    # the nastier shape: a constant value whose quantized moments
    # CANCEL to a tiny NEGATIVE variance in doubles (0.0035 → vi=35,
    # ex2 − mu² ≈ −1.7e-21). sqrt(negative) is NaN, and Spark treats
    # NaN as greater-than-everything — the variance guard must stop
    # it BEFORE the sqrt, in both engines
    import duckdb as _duck

    from __spark_entry__ import oracle_sql as _osql

    nan_ev = const_ev.withColumn("value", const_ev.value * 0 + 0.0035)
    assert zscore_outliers(nan_ev).count() == 0
    tt2 = ab_ttest(nan_ev).collect()[0]
    assert tt2.t_stat is None or tt2.t_stat == 0.0
    con = _duck.connect()
    con.register("events", nan_ev.toPandas())
    assert len(con.sql(_osql()["outlier_zscore"]).fetchall()) == 0
    (orow,) = con.sql(_osql()["ab_ttest"]).fetchall()
    assert orow[4] is None or orow[4] == 0.0

    # a zero-norm embedding has undefined cosine: NULL (ranked last
    # / dropped by thresholds), not an ANSI crash
    from rsbsa_etl_spark.functions.similarity import (
        brute_force_topk,
        cosine_pairs_hof,
    )

    zemb = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, [1.0, 1.0])],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    got = brute_force_topk(zemb, query_ids=[1], k=2).collect()
    assert [r.neighbor_id for r in got] == [3, 2]
    assert got[0].cosine is not None and got[1].cosine is None
    pairs = cosine_pairs_hof(zemb, threshold=0.5).collect()
    assert {(r.vec_a, r.vec_b) for r in pairs} == {(1, 3)}
    assert k_anonymity(docs).count() == 0
    assert feature_hash_vectors(docs).count() == 0
    assert quantile_bucketize(lineitem).count() == 0
    assert knn_graph(emb).count() == 0
    assert hard_negatives(emb).count() == 0
    assert triangle_stats(edges).count() == 0
    from rsbsa_etl_spark.functions.dedup import duplicated_spans
    from rsbsa_etl_spark.functions.similarity import cosine_pairs_bipartite

    assert duplicated_spans(docs).count() == 0
    assert cosine_pairs_bipartite(emb, emb).count() == 0
    from rsbsa_etl_spark.functions.textstats import bpe_segment, bpe_train

    assert bpe_train(docs).count() == 0
    assert bpe_segment(docs).count() == 0


def test_block_knn_zero_norm_drops_out(spark):
    """the Arrow-block kNN family must give a zero-norm embedding
    the same NULL-drops-out treatment as safe_div: numpy computes
    0/0 = NaN, which lexsort ranks LAST in the block but Spark's
    ORDER BY cosine DESC ranks FIRST — so non-finite sims are masked
    inside the block, and a zero-norm vector contributes no pairs as
    source or neighbor (the DuckDB oracles guard with nrm > 0)."""
    from pyspark.sql import types as T

    from rsbsa_etl_spark.functions.similarity import (
        cosine_pairs,
        hard_negatives,
        knn_graph,
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    zemb = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.0, 0.0], 1),  # zero-norm: cosine undefined
            (3, [1.0, 1.0], 1),
            (4, [0.0, 1.0], 0),
        ],
        schema,
    )
    g = knn_graph(zemb, k=3).collect()
    assert all(r.vec_id != 2 and r.neighbor_id != 2 for r in g)
    assert all(r.cosine == r.cosine for r in g)  # no NaN survived
    # id 1 still ranks its finite neighbors: 3 (0.7071) then 4 (0.0)
    one = sorted((r.rank, r.neighbor_id) for r in g if r.vec_id == 1)
    assert one == [(1, 3), (2, 4)]
    hn = hard_negatives(zemb, k=3).collect()
    assert all(r.vec_id != 2 and r.neighbor_id != 2 for r in hn)
    p = cosine_pairs(zemb, threshold=-1.0).collect()
    assert all(r.vec_a != 2 and r.vec_b != 2 for r in p)
    # bipartite ingest form: same drop-out for zero-norm on EITHER
    # side, and exact values against the hof reference
    from rsbsa_etl_spark.functions.similarity import cosine_pairs_bipartite

    nw = zemb.where(zemb.vec_id <= 2)
    corp = zemb.where(zemb.vec_id > 2)
    bp = cosine_pairs_bipartite(nw, corp, threshold=-1.0).collect()
    assert all(r.new_id != 2 for r in bp)
    got = {(r.new_id, r.corpus_id): r.cosine for r in bp}
    assert got == {(1, 3): 0.7071, (1, 4): 0.0}


def test_duplicated_spans_golden(spark):
    """hand-checked span semantics: shared 4-grams mark regions,
    overlapping/adjacent marks merge into maximal spans, unique text
    emits nothing, and docs shorter than k emit nothing."""
    from rsbsa_etl_spark.functions.dedup import duplicated_spans

    docs = spark.createDataFrame(
        [
            # docs 1 and 2 share the 6-token run "a b c d e f"
            # (positions 0-5 in doc 1, 2-7 in doc 2): three marked
            # 4-grams each, merging into ONE span per doc
            (1, "a b c d e f x y z w"),
            (2, "p q a b c d e f r s"),
            # doc 3: unique text, no duplicated grams
            (3, "u1 u2 u3 u4 u5 u6 u7"),
            # doc 4: shorter than k tokens — no grams at all
            (4, "a b c"),
            # docs 5 and 6: TWO disjoint shared runs in doc 5 split
            # by unique middle text — two separate spans
            (5, "m1 m2 m3 m4 zz1 zz2 zz3 zz4 zz5 n1 n2 n3 n4"),
            (6, "m1 m2 m3 m4 k k2 n1 n2 n3 n4"),
        ],
        "doc_id long, text string",
    )
    rows = {
        (r.doc_id, r.span_start): (r.span_end, r.span_tokens)
        for r in duplicated_spans(docs).collect()
    }
    assert rows == {
        (1, 0): (5, 6),
        (2, 2): (7, 6),
        (5, 0): (3, 4),
        (5, 9): (12, 4),
        (6, 0): (3, 4),
        (6, 6): (9, 4),
    }


@settings(max_examples=10, deadline=None)
@given(
    st.dictionaries(
        st.integers(0, 20),           # day offsets (gaps allowed)
        st.integers(1, 50),           # events on that day
        min_size=2,
        max_size=12,
    )
)
def test_ts_autocorr_matches_python_integer_fold(sp, series):
    """ts_autocorr == the same N-scaled centered-residual estimator
    folded in exact Python ints, on arbitrary gapped daily series —
    day-based lags must pair across calendar gaps, NULL on zero
    variance."""
    import datetime as dt
    import math

    from rsbsa_etl_spark.operators.analytics import ts_autocorr
    from rsbsa_etl_spark.params import ACF_MAX_LAG

    rows = []
    eid = 0
    for day, cnt in series.items():
        for _ in range(cnt):
            rows.append(
                (eid, dt.datetime(2024, 1, 1) + dt.timedelta(days=day))
            )
            eid += 1
    ev = sp.createDataFrame(rows, "event_id long, ts timestamp")

    n = len(series)
    s = sum(series.values())
    f = {d: n * x - s for d, x in series.items()}
    den = sum(v * v for v in f.values())
    expect = {}
    for lag in range(1, ACF_MAX_LAG + 1):
        pairs = [(f[d], f[d + lag]) for d in series if d + lag in series]
        if not pairs:
            continue
        num = sum(a * b for a, b in pairs)
        acf = (
            math.floor(float(num) / float(den) * 1e6 + 0.5) / 1e6
            if den != 0
            else None
        )
        expect[lag] = (len(pairs), acf)

    got = {
        r.lag: (r.n_pairs, r.acf) for r in ts_autocorr(ev).collect()
    }
    assert got == expect, (series, got, expect)


def test_bpe_train_golden(spark):
    """the classic BPE walkthrough: corpus {low x2, lower, lowest}.
    Round 1 merges (l,o) count 4; round 2 (lo,w) count 4; round 3
    (low,e) count 2 — each a deterministic argmax under the total
    (count desc, pair asc) order, with the merged symbol feeding the
    next round's pair space (the property bpe_pair_counts alone
    cannot express)."""
    from rsbsa_etl_spark.functions.textstats import bpe_train

    docs = spark.createDataFrame(
        [(1, "low low"), (2, "lower"), (3, "lowest")],
        "doc_id long, text string",
    )
    got = [
        (r.round, r.left, r.right, r.merged, r.pair_count)
        for r in bpe_train(docs).collect()
    ]
    assert got == [
        (1, "l", "o", "lo", 4),
        (2, "lo", "w", "low", 4),
        (3, "low", "e", "lowe", 2),
    ]


def test_bpe_merge_exhaustion_parity(spark):
    """a corpus whose pair space exhausts before BPE_TRAIN_ROUNDS:
    Spark's loop breaks early; the oracle's per-round replace must be
    a no-op (coalesced scalar subquery), NOT a cross join with the
    empty best row — the earlier cross-join form wiped the vocabulary
    chain and returned zero bpe_segment rows on exactly this shape."""
    import duckdb

    from __spark_entry__ import oracle_sql
    from rsbsa_etl_spark.functions.textstats import bpe_segment, bpe_train

    docs = spark.createDataFrame(
        [(1, "ab ab"), (2, "ab")], "doc_id long, text string"
    )
    rules = bpe_train(docs).collect()
    assert [(r.round, r.merged, r.pair_count) for r in rules] == [(1, "ab", 3)]
    seg = {r.doc_id: (r.n_tokens, r.n_symbols) for r in bpe_segment(docs).collect()}
    assert seg == {1: (2, 2), 2: (1, 1)}

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    got_train = con.sql(oracle_sql()["bpe_train"]).fetchall()
    assert [(r[0], r[3], r[4]) for r in got_train] == [(1, "ab", 3)]
    got_seg = {r[0]: (r[1], r[2]) for r in con.sql(oracle_sql()["bpe_segment"]).fetchall()}
    assert got_seg == seg


def test_hybrid_rrf_fusion_semantics(spark):
    """structural invariants of the fused ranking at sf0.001: every
    query returns exactly HYBRID_TOP_K rows with dense ranks; each
    row was retrieved by at least one arm; rrf equals the recomputed
    1/(K+rank) sum; and the fixture exercises genuine fusion (at
    least one result retrieved by both arms AND ones by a single
    arm)."""
    from rsbsa_etl_spark import params as P
    from rsbsa_etl_spark.registry import QUERIES

    from tests.conftest import SF_DIR

    rows = QUERIES["hybrid_search_rrf"](spark, SF_DIR).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == len(P.ANN_QUERY_IDS)
    import math

    for q, rs in by_q.items():
        assert sorted(r.rank for r in rs) == list(
            range(1, P.HYBRID_TOP_K + 1)
        )
        for r in rs:
            assert r.lex_rank is not None or r.vec_rank is not None
            want = 0.0
            if r.lex_rank is not None:
                assert 1 <= r.lex_rank <= P.HYBRID_ARM_K
                want += 1.0 / (P.RRF_K + r.lex_rank)
            if r.vec_rank is not None:
                assert 1 <= r.vec_rank <= P.HYBRID_ARM_K
                want += 1.0 / (P.RRF_K + r.vec_rank)
            assert r.rrf == math.floor(want * 1e6 + 0.5) / 1e6
    assert any(
        r.lex_rank is not None and r.vec_rank is not None for r in rows
    )
    assert any(r.lex_rank is None for r in rows)
    assert any(r.vec_rank is None for r in rows)


def test_mmr_greedy_diversity_beats_pure_relevance(spark):
    """golden MMR walkthrough: B duplicates A exactly, C is slightly
    less relevant but diverse — greedy picks A, then C (diversity
    term overrides B's higher relevance), then B. Pure-relevance
    order would be A, B, C; the integer mmr values are checked
    against the hand computation (7·rel_i − 3·max_sim_i at 1e-7)."""
    from rsbsa_etl_spark.functions.retrieval import mmr_rerank

    s = 0.43588989435406733  # sqrt(1 - 0.81): unit-norm second dim
    c = 0.4749736834815167   # sqrt(1 - 0.88^2)
    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0], "q"),
            (1, [0.9, s, 0.0, 0.0], "a"),
            (2, [0.9, s, 0.0, 0.0], "dup_of_a"),
            (3, [0.88, 0.0, c, 0.0], "diverse"),
        ],
        "vec_id long, embedding array<double>, label string",
    )
    rows = mmr_rerank(emb, query_ids=[0], pool_k=3, k=3).collect()
    order = {r.doc_id: r.pick_order for r in rows}
    assert order == {1: 1, 3: 2, 2: 3}
    by_doc = {r.doc_id: r for r in rows}
    # rel_i: A/B = 900000, C = 880000; sim(A,B)=1e6, sim(A,C)=792000
    assert by_doc[1].mmr == 7 * 900000 / 1e7
    assert by_doc[3].mmr == (7 * 880000 - 3 * 792000) / 1e7
    assert by_doc[2].mmr == (7 * 900000 - 3 * 1000000) / 1e7
    assert by_doc[1].relevance == 0.9
    assert by_doc[3].relevance == 0.88


def test_mmr_pool_auto_dial_bit_identical_both_sides(spark):
    """the r12-measured brute/IVF POOL crossover as an auto-dial
    (r13): ``mmr_rerank_auto`` must pick the brute pool below
    ``ivf_pool_min_queries`` and the in-plan IVF pool at/above it,
    and the picks must be BIT-IDENTICAL to the explicit arm on each
    side — the dial only chooses, it never re-implements. Dials are
    shrunk (4 cells, nprobe 1 → threshold ceil(4/0.75) = 6) so both
    sides are crossable at fixture scale."""
    from rsbsa_etl_spark.functions.retrieval import (
        ivf_pool_min_queries,
        mmr_rerank,
        mmr_rerank_auto,
        mmr_rerank_ivf,
    )
    from rsbsa_etl_spark.sources.fixtures import load

    from tests.conftest import SF_DIR

    # formula pins: the measured 200k-vector config brackets ≈455;
    # degenerate probe-everything configs can never win in-plan
    assert ivf_pool_min_queries(4, 1) == 6
    assert ivf_pool_min_queries(447, 8) == 456
    assert ivf_pool_min_queries(8, 8) == 2**62

    emb = load(spark, SF_DIR, "embeddings")

    def rows(df):
        return sorted(
            (r.query_id, r.doc_id, r.pick_order, r.relevance, r.mmr)
            for r in df.collect()
        )

    below = [1, 2, 3, 4, 5]
    got = rows(mmr_rerank_auto(emb, below, n_centroids=4, nprobe=1))
    want = rows(mmr_rerank(emb, below))
    assert got == want and len(got) > 0

    above = [1, 2, 3, 4, 5, 6]
    got = rows(mmr_rerank_auto(emb, above, n_centroids=4, nprobe=1))
    want = rows(mmr_rerank_ivf(emb, above, n_centroids=4, nprobe=1))
    assert got == want and len(got) > 0


def test_dsir_weights_favor_target_language(spark):
    """the point of DSIR: documents from the target domain (lang
    'en') must average a higher importance weight than the rest of
    the corpus, and every weight is positive (it is a ratio of
    smoothed probabilities)."""
    from rsbsa_etl_spark.functions.curation import dsir_weights
    from rsbsa_etl_spark.sources.fixtures import load

    from tests.conftest import SF_DIR

    docs = load(spark, SF_DIR, "documents")
    w = dsir_weights(docs).join(docs.select("doc_id", "lang"), "doc_id")
    rows = w.collect()
    assert all(r.dsir_weight > 0 for r in rows)
    en = [r.dsir_weight for r in rows if r.lang == "en"]
    rest = [r.dsir_weight for r in rows if r.lang != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)


def test_rocchio_recovers_separable_classes(spark):
    """two classes with disjoint vocabularies must classify
    perfectly: each doc's hashed count vector sits on its own class
    centroid, and smoothing cannot flip a separable argmax."""
    from rsbsa_etl_spark.functions.textstats import rocchio_classify

    docs = spark.createDataFrame(
        [
            (1, "apple banana cherry apple banana", "fruit"),
            (2, "banana cherry cherry apple", "fruit"),
            (3, "apple apple banana", "fruit"),
            (4, "zebra yak xylophone zebra yak", "zoo"),
            (5, "yak xylophone xylophone zebra", "zoo"),
            (6, "zebra zebra yak", "zoo"),
        ],
        "doc_id long, text string, lang string",
    )
    rows = rocchio_classify(docs).collect()
    assert len(rows) == 6
    for r in rows:
        assert r.lang_pred == r.lang_true, (r.doc_id, r.lang_pred)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.lists(
            st.sampled_from([-1.0, 0.0, 1.0, 2.0]), min_size=64, max_size=64
        ),
        min_size=6,
        max_size=24,  # > MMR_POOL_K + queries: pool truncation (and its
        # rel-tie ordering at the rank-20 cutoff) is actually generated
    )
)
def test_mmr_oracle_matches_python_reference(vec_rows):
    """the unrolled greedy SQL (5 chained CTE rounds) equals a
    transparent pure-Python implementation of the same integer
    fixed-point spec on arbitrary small corpora — including
    duplicate vectors (rel ties → doc_id tiebreak), zero-norm
    vectors (NULL similarity drops out of the pool), and pools
    smaller than the pick budget (rounds return fewer rows). The
    Spark side is pinned to the same oracle by the parity suite, so
    this transitively pins the Spark greedy loop too."""
    import math

    import pandas as pd

    from rsbsa_etl_spark import params as P

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def nrm(a):
        acc = 0.0
        for x in a:
            acc = acc + x * x
        return math.sqrt(acc)

    def sim_i(a, b):
        den = nrm(a) * nrm(b)
        if den == 0:
            return None
        return int(math.floor(fold_dot(a, b) / den * 1e6 + 0.5))

    vecs = {i: v for i, v in enumerate(vec_rows)}
    expect = []
    for q in P.ANN_QUERY_IDS:
        pool = []
        for d, vd in vecs.items():
            if d == q:
                continue
            s = sim_i(vecs[q], vd)
            if s is not None:
                pool.append((d, s))
        pool.sort(key=lambda t: (-t[1], t[0]))
        pool = pool[: P.MMR_POOL_K]
        selected = []
        for r in range(1, P.MMR_SELECT_K + 1):
            best = None
            for d, rel in pool:
                if any(d == sd for sd, _, _ in selected):
                    continue
                if r == 1:
                    ms = 0
                else:
                    ms = max(
                        sim_i(vecs[d], vecs[sd]) for sd, _, _ in selected
                    )
                mmr = P.MMR_W_REL * rel - P.MMR_W_DIV * ms
                if best is None or (mmr, -d) > (best[2], -best[0]):
                    best = (d, rel, mmr)
            if best is None:
                break
            selected.append(best)
            expect.append(
                (q, best[0], r, best[1] / 1e6, best[2] / P.MMR_FIXED_SCALE)
            )

    from rsbsa_etl_spark.oracles import ORACLES

    con = duckdb.connect()
    con.register(
        "embeddings",
        pd.DataFrame(
            {
                "vec_id": list(vecs),
                "embedding": [vecs[i] for i in vecs],
                "label": ["x"] * len(vecs),
            }
        ),
    )
    got = sorted(
        (int(r[0]), int(r[1]), int(r[2]), float(r[3]), float(r[4]))
        for r in con.execute(ORACLES["mmr_rerank"]).fetchall()
    )
    assert got == sorted(expect)
    con.close()


def test_dsir_resample_membership_is_pure_function_of_id_and_weight(spark):
    """acceptance must equal the documented integer comparison
    recomputed independently (Python hashlib md5 vs the engines'
    md5), and the fixture must exercise both branches. Also pins the
    p=1 guarantee: any weight ≥ the reference is always accepted
    (u32 < 2^32 strictly)."""
    import hashlib

    from rsbsa_etl_spark import params as P
    from rsbsa_etl_spark.functions.curation import dsir_resample
    from rsbsa_etl_spark.sources.fixtures import load

    from tests.conftest import SF_DIR

    q_ref = int(P.DSIR_RESAMPLE_REF * 1_000_000)
    rows = dsir_resample(load(spark, SF_DIR, "documents")).collect()
    assert any(r.accepted for r in rows) and any(
        not r.accepted for r in rows
    )
    for r in rows:
        digest = hashlib.md5(
            f"{P.DSIR_RESAMPLE_SALT}|{r.doc_id}".encode()
        ).hexdigest()
        u32 = int(digest[:8], 16)
        q_w = min(int(r.dsir_weight * 1e6 + 0.5), q_ref)
        assert r.accepted == (u32 * q_ref < (1 << 32) * q_w), r
        if q_w >= q_ref:
            assert r.accepted


def test_winnowing_guarantee_and_window_counts(spark):
    """the winnowing contract on constructed docs: (a) two documents
    sharing a run of ≥ k+w−1 tokens MUST share a fingerprint hash
    (the guarantee the window density is chosen for); (b) a doc with
    grams but fewer than w full windows emits nothing; (c)
    n_windows = n_grams − w + 1; (d) an isolated doc shares
    nothing."""
    from rsbsa_etl_spark import params as P
    from rsbsa_etl_spark.functions.dedup import winnow_fingerprints

    k, w = P.SPAN_NGRAM_K, P.WINNOW_W
    shared_run = " ".join(f"s{i}" for i in range(k + w - 1))
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta {shared_run} gamma delta epsilon zeta"),
            (2, f"one two three four {shared_run} five six"),
            (3, "tiny little doc here now"),  # 5 tokens → 2 grams < w windows
            (4, "completely unrelated words nobody else ever uses "
                "anywhere in this corpus at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in winnow_fingerprints(docs).collect()}
    assert 3 not in rows  # no full window
    for d in (1, 2):
        assert rows[d].n_shared_fp >= 1, rows[d]
    assert rows[4].n_shared_fp == 0
    # n_windows = n_grams − w + 1 (doc 4: 13 tokens → 10 grams → 6)
    assert rows[4].n_windows == 13 - k + 1 - w + 1


def test_dsir_resample_clamp_survives_extreme_skew(spark):
    """the overflow regime the clamp exists for: a corpus where the
    target domain is a vanishing fraction makes the raw probability
    ratio exceed 2^31/1e6 ≈ 2147 — unclamped, 2^32·q_w wraps int64
    negative in Spark (silently rejecting the MOST target-like
    docs) and errors in DuckDB. With the clamp both engines agree
    and every weight ≥ the reference is accepted (p = 1)."""
    import duckdb

    from __spark_entry__ import oracle_sql
    from rsbsa_etl_spark.functions.curation import dsir_resample

    target = " ".join(f"uniq{i}" for i in range(10))
    rows = [(0, target, "en")] + [
        (i, "aaa bbb ccc " * 2000, "de") for i in range(1, 21)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    )
    got = {r.doc_id: r for r in dsir_resample(docs).collect()}
    assert got[0].dsir_weight > 2148, got[0]  # we ARE in the regime
    assert got[0].accepted  # p = min(1, w/ref) = 1

    con = duckdb.connect()
    con.register("documents", docs.toPandas())
    want = {
        int(r[0]): (int(r[1]), float(r[2]), bool(r[3]))
        for r in con.execute(oracle_sql()["dsir_resample"]).fetchall()
    }
    assert want == {
        d: (r.n_tokens, r.dsir_weight, r.accepted) for d, r in got.items()
    }
    con.close()


def test_bootstrap_ci_matches_python_reference(spark):
    """the whole bootstrap pipeline — u32 draw, inverse-CDF weight,
    exact-integer replicate sums, quantized mean, rank-2/B−1
    interval — recomputed independently in Python (hashlib md5 +
    the same pre-computed thresholds) on a small synthetic frame;
    and on the fixture the interval must bracket the point mean."""
    import hashlib
    import math

    from rsbsa_etl_spark import params as P
    from rsbsa_etl_spark.operators.profiling import bootstrap_ci
    from rsbsa_etl_spark.sources.fixtures import load

    from tests.conftest import SF_DIR

    rows = [(i, float(v)) for i, v in enumerate([3.5, 10.0, 0.25, 7.75, 99.5, 42.0])]
    events = spark.createDataFrame(rows, "event_id long, value double")
    got = bootstrap_ci(events).collect()[0]

    def weight(rep, eid):
        u32 = int(
            hashlib.md5(
                f"{P.BOOTSTRAP_SALT}|{rep}|{eid}".encode()
            ).hexdigest()[:8],
            16,
        )
        for k, t in enumerate(P.POISSON1_CDF_U32):
            if u32 < t:
                return k
        return len(P.POISSON1_CDF_U32)

    vis = {eid: int(math.floor(v * 1e4 + 0.5)) for eid, v in rows}
    means = []
    for rep in range(P.BOOTSTRAP_B):
        ws = {eid: weight(rep, eid) for eid in vis}
        n_w = sum(ws.values())
        s = sum(w * vis[e] for e, w in ws.items())
        m = None if n_w == 0 else math.floor(s / n_w / 1e4 * 1e6 + 0.5) / 1e6
        means.append((m if m is not None else float("inf"), rep))
    means.sort()
    assert got.n_rows == len(rows)
    assert got.boot_lo == means[1][0]
    assert got.boot_hi == means[P.BOOTSTRAP_B - 2][0]
    tot = sum(vis.values())
    assert got.point_mean == math.floor(tot / len(rows) / 1e4 * 1e6 + 0.5) / 1e6

    fx = bootstrap_ci(load(spark, SF_DIR, "events")).collect()[0]
    assert fx.boot_lo <= fx.point_mean <= fx.boot_hi
    assert fx.boot_lo < fx.boot_hi  # the replicates genuinely vary


def test_cuped_adjustment_recovers_true_effect(spark):
    """CUPED's purpose, demonstrated: when the pre-period covariate
    linearly predicts the post-period metric (Y = X + effect·arm),
    the adjusted difference must land strictly closer to the true
    effect than the raw difference, with θ near 1. Arms come from
    the same md5 hash split the operator uses, recomputed here so
    the construction is assignment-aware."""
    import hashlib

    from rsbsa_etl_spark.operators.profiling import ab_cuped

    def arm(u):
        return int(hashlib.md5(f"ab1|{u}".encode()).hexdigest()[:8], 16) % 2

    effect = 3.0
    rows = []
    for u in range(120):
        base = float(5 + (u % 7))          # pre-period user level
        rows.append((2 * u, u, "2024-01-10 00:00:00", base))
        rows.append((2 * u + 1, u, "2024-01-20 00:00:00",
                     base + (effect if arm(u) == 1 else 0.0)))
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    r = ab_cuped(events).collect()[0]
    true_diff = -effect  # diff is arm0 − arm1
    assert 0.5 < r.theta < 1.5
    assert abs(r.diff_adj - true_diff) < abs(r.diff_raw - true_diff)
    assert abs(r.diff_adj - true_diff) < 0.2


def test_ann_mrr_bounds_and_index_ordering(spark):
    """MRR invariants on the fixture: one row per index, mrr within
    [0,1], n_hit ≤ n_queries, and the cluster-aligned IVF index —
    which ann_recall already shows dominating sign-LSH on this
    geometry — must not rank below LSH on first-hit position
    either. The LSH rows exercise the zero-hit coalesce path."""
    from rsbsa_etl_spark.functions.similarity import ann_mrr
    from rsbsa_etl_spark.sources.fixtures import load

    from tests.conftest import SF_DIR

    rows = {r.system: r for r in ann_mrr(load(spark, SF_DIR, "embeddings")).collect()}
    assert set(rows) == {"lsh", "lsh_mp", "ivf"}
    for r in rows.values():
        assert 0.0 <= r.mrr <= 1.0
        assert 0 <= r.n_hit <= r.n_queries
    assert rows["ivf"].mrr >= rows["lsh"].mrr


def test_ann_eval_is_bit_identical_to_standalone_metrics(spark):
    """the consolidated ann_eval (one persisted set of index scans
    for both metrics) must reproduce ann_mrr's per-system rows
    exactly AND ann_recall's aggregate hit counts — consolidation
    may change the plan, never the numbers."""
    from rsbsa_etl_spark.functions.similarity import (
        ann_eval,
        ann_mrr,
        ann_recall,
    )
    from rsbsa_etl_spark.params import ANN_TOP_K
    from rsbsa_etl_spark.sources.fixtures import load

    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    ev = {r.system: r for r in ann_eval(emb).collect()}
    mrr = {r.system: r for r in ann_mrr(emb).collect()}
    assert set(ev) == set(mrr) == {"lsh", "lsh_mp", "ivf"}
    for s in ev:
        assert ev[s].mrr == mrr[s].mrr, s
        assert ev[s].n_hit_top1 == mrr[s].n_hit, s
        assert ev[s].n_queries == mrr[s].n_queries, s
    rec = ann_recall(emb).collect()
    col = {"lsh": "recall_lsh", "lsh_mp": "recall_lsh_mp", "ivf": "recall_ivf"}
    for s, c in col.items():
        # per-query recalls are k-quantized, so the hit-count sum is
        # exact: sum over queries of recall*k == consolidated n_hit_k
        assert ev[s].n_hit_k == round(
            sum(r[c] * ANN_TOP_K for r in rec)
        ), s


def test_knn_graph_ivf_edges_are_exact_and_recall_reasonable(spark):
    """the IVF graph is APPROXIMATE in which neighbors it finds but
    EXACT in what it says about them: every emitted edge's cosine
    must equal the exact graph kernel's value for that pair, ranks
    must be contiguous per source, and recall against the exact
    top-k must clear a floor on the fixture geometry (misses are
    the documented unprobed-cell-boundary class)."""
    from rsbsa_etl_spark.functions.similarity import knn_graph, knn_graph_ivf
    from rsbsa_etl_spark.sources.fixtures import load

    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    exact = {
        (r.vec_id, r.neighbor_id): r.cosine for r in knn_graph(emb).collect()
    }
    approx = knn_graph_ivf(emb).collect()
    per_src: dict[int, list[int]] = {}
    for r in approx:
        per_src.setdefault(r.vec_id, []).append(r.rank)
        if (r.vec_id, r.neighbor_id) in exact:
            assert exact[(r.vec_id, r.neighbor_id)] == r.cosine
    for ranks in per_src.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    hits = sum(1 for pair in exact if pair in {
        (r.vec_id, r.neighbor_id) for r in approx
    })
    recall = hits / len(exact)
    assert recall > 0.3, recall


def test_weighted_sample_draws_follow_weights(spark):
    """multinomial contract: exactly one doc per draw (every u lands
    in exactly one interval), zero/NULL-weight docs are never drawn,
    and a doc holding ~90% of the total weight receives the bulk of
    the draws — the deterministic hash draws must actually follow
    the weight line, not the doc count."""
    from rsbsa_etl_spark.functions.curation import weighted_sample
    from rsbsa_etl_spark.params import WSAMPLE_DRAWS

    docs = spark.createDataFrame(
        [(0, 9000), (1, 250), (2, 250), (3, 500), (4, 0), (5, None)],
        "doc_id long, n_chars long",
    )
    rows = weighted_sample(docs).collect()
    assert len(rows) == WSAMPLE_DRAWS
    assert sorted({r.draw_id for r in rows}) == list(range(WSAMPLE_DRAWS))
    drawn = [r.doc_id for r in rows]
    assert 4 not in drawn and 5 not in drawn
    # doc 0 holds 90% of the weight; binomial(64, .9) puts P(<45) ~ 1e-6
    assert drawn.count(0) >= 45
    # determinism: a second run is identical
    again = [r.doc_id for r in weighted_sample(docs).collect()]
    assert drawn == again


def _hash_slot(tok, dim):
    import hashlib

    return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % dim


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(
                st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
                min_size=1,
                max_size=8,
            ),
            st.sampled_from(["en", "de", "fr"]),
        ),
        min_size=2,
        max_size=10,
    )
)
def test_dsir_oracle_matches_python_reference(doc_specs):
    """the DSIR weights oracle equals a transparent Python
    implementation of the same smoothing/quantization spec on
    arbitrary tiny corpora — including corpora with NO target-lang
    docs (c_tgt all zero) and single-language corpora. The Spark
    side is pinned to the same oracle by the parity suite."""
    import math

    import pandas as pd

    from rsbsa_etl_spark import params as P
    from rsbsa_etl_spark.oracles import ORACLES

    d = P.DSIR_HASH_DIM
    docs = [
        (i, " ".join(toks), lang) for i, (toks, lang) in enumerate(doc_specs)
    ]
    # python reference
    slot_counts: dict = {}
    for i, text, lang in docs:
        for tok in text.split(" "):
            s = _hash_slot(tok, d)
            slot_counts.setdefault((i, lang, s), 0)
            slot_counts[(i, lang, s)] += 1
    c_raw: dict = {}
    c_tgt: dict = {}
    for (i, lang, s), n in slot_counts.items():
        c_raw[s] = c_raw.get(s, 0) + n
        if lang == P.DSIR_TARGET_LANG:
            c_tgt[s] = c_tgt.get(s, 0) + n
    n_raw = sum(c_raw.values())
    n_tgt = sum(c_tgt.values())
    q_ratio = {
        s: math.floor(
            ((c_tgt.get(s, 0) + 0.5) / (n_tgt + d / 2.0))
            * ((n_raw + d / 2.0) / (c_raw[s] + 0.5))
            * 1e6
            + 0.5
        )
        for s in c_raw
    }
    expect = {}
    for i, text, lang in docs:
        per_slot: dict = {}
        for tok in text.split(" "):
            s = _hash_slot(tok, d)
            per_slot[s] = per_slot.get(s, 0) + 1
        n_tok = sum(per_slot.values())
        sq = sum(n * q_ratio[s] for s, n in per_slot.items())
        w = math.floor(sq / 1e6 / n_tok * 1e6 + 0.5) / 1e6
        expect[i] = (n_tok, w)

    import duckdb

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            {
                "doc_id": [i for i, _, _ in docs],
                "text": [t for _, t, _ in docs],
                "lang": [la for _, _, la in docs],
            }
        ),
    )
    got = {
        int(r[0]): (int(r[1]), float(r[2]))
        for r in con.execute(ORACLES["dsir_weights"]).fetchall()
    }
    assert got == expect
    con.close()


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.lists(
                st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
                min_size=1,
                max_size=8,
            ),
            st.sampled_from(["en", "de", "fr"]),
        ),
        min_size=2,
        max_size=10,
    )
)
def test_rocchio_oracle_matches_python_reference(doc_specs):
    """the Rocchio oracle — full class×slot grid, Laplace smoothing,
    1e-9 quantization, (score desc, class asc) argmax — equals a
    transparent Python implementation on arbitrary tiny corpora,
    including single-class corpora and heavy slot collisions."""
    import math

    import pandas as pd

    from rsbsa_etl_spark import params as P
    from rsbsa_etl_spark.oracles import ORACLES

    d = P.ROCCHIO_HASH_DIM
    docs = [
        (i, " ".join(toks), lang) for i, (toks, lang) in enumerate(doc_specs)
    ]
    cnt: dict = {}
    n_cls: dict = {}
    per_doc: dict = {}
    for i, text, lang in docs:
        for tok in text.split(" "):
            s = _hash_slot(tok, d)
            cnt[(lang, s)] = cnt.get((lang, s), 0) + 1
            n_cls[lang] = n_cls.get(lang, 0) + 1
            per_doc.setdefault(i, {}).setdefault(s, 0)
            per_doc[i][s] += 1
    q_p = {
        (c, s): math.floor(
            (cnt.get((c, s), 0) + 0.5) / (n_cls[c] + d / 2.0) * 1e9 + 0.5
        )
        for c in n_cls
        for s in range(d)
    }
    expect = {}
    lang_of = {i: lang for i, _, lang in docs}
    for i, slots in per_doc.items():
        n_tok = sum(slots.values())
        best = None
        for c in sorted(n_cls):
            sc = sum(n * q_p[(c, s)] for s, n in slots.items())
            if best is None or sc > best[1]:
                best = (c, sc)
        w = math.floor(best[1] / 1e9 / n_tok * 1e6 + 0.5) / 1e6
        expect[i] = (lang_of[i], best[0], n_tok, w)

    import duckdb

    con = duckdb.connect()
    con.register(
        "documents",
        pd.DataFrame(
            {
                "doc_id": [i for i, _, _ in docs],
                "text": [t for _, t, _ in docs],
                "lang": [la for _, _, la in docs],
            }
        ),
    )
    got = {
        int(r[0]): (str(r[1]), str(r[2]), int(r[3]), float(r[4]))
        for r in con.execute(ORACLES["rocchio_classify"]).fetchall()
    }
    assert got == expect
    con.close()


def test_hybrid_mmr_composition_semantics(spark):
    """the composed stack's invariants at sf0.001: every query picks
    exactly MMR_SELECT_K docs, each pick came from that query's
    hybrid top-HYBRID_TOP_K pool, the first pick is the hybrid #1
    (normalized relevance exactly 1.0), and pick order is dense."""
    from rsbsa_etl_spark import params as P
    from rsbsa_etl_spark.functions.retrieval import (
        hybrid_mmr,
        hybrid_search_rrf,
    )
    from rsbsa_etl_spark.sources.fixtures import load

    from tests.conftest import SF_DIR

    docs = load(spark, SF_DIR, "documents")
    emb = load(spark, SF_DIR, "embeddings")
    fused = {
        (r.query_id, r.doc_id): r.rank
        for r in hybrid_search_rrf(docs, emb).collect()
    }
    picks = hybrid_mmr(docs, emb).collect()
    by_q: dict = {}
    for r in picks:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == len(P.ANN_QUERY_IDS)
    for q, rs in by_q.items():
        assert sorted(r.pick_order for r in rs) == list(
            range(1, P.MMR_SELECT_K + 1)
        )
        for r in rs:
            assert (q, r.doc_id) in fused  # pool containment
        first = next(r for r in rs if r.pick_order == 1)
        # rel_norm 1.0 == the argmax of the ROUNDED rrf; asserting
        # hybrid rank 1 exactly would be fragile under sub-rounding
        # rrf near-ties (rank orders on the raw sum)
        assert first.rel_norm == 1.0


def test_session_operators_degrade_gracefully_on_empty_input(spark):
    """empty-corpus behavior of the round-5-session operators is part
    of the contract: per-doc operators emit zero rows, the global
    aggregates emit their one row with NULL statistics — and for the
    aggregates both engines agree on that row exactly (DuckDB run on
    registered empty frames)."""
    import duckdb
    import pandas as pd

    from __spark_entry__ import oracle_sql
    from rsbsa_etl_spark.functions.curation import dsir_resample, dsir_weights
    from rsbsa_etl_spark.functions.dedup import winnow_fingerprints
    from rsbsa_etl_spark.functions.textstats import rocchio_classify
    from rsbsa_etl_spark.operators.profiling import ab_cuped, bootstrap_ci

    docs = spark.createDataFrame([], "doc_id long, text string, lang string")
    ev = spark.createDataFrame(
        [], "event_id long, user_id long, ts timestamp, value double"
    )
    for df in (
        dsir_weights(docs),
        dsir_resample(docs),
        rocchio_classify(docs),
        winnow_fingerprints(docs),
    ):
        assert df.count() == 0

    boot = bootstrap_ci(ev).collect()
    cuped = ab_cuped(ev).collect()
    assert len(boot) == 1 and boot[0].n_rows is None
    assert boot[0].n_replicates == 32 and boot[0].boot_lo is None
    assert len(cuped) == 1 and cuped[0].n_a == 0 and cuped[0].theta is None

    con = duckdb.connect()
    con.register(
        "events",
        pd.DataFrame(
            {
                "event_id": pd.Series(dtype="int64"),
                "user_id": pd.Series(dtype="int64"),
                "ts": pd.Series(dtype="datetime64[us]"),
                "value": pd.Series(dtype="float64"),
            }
        ),
    )
    ob = con.execute(oracle_sql()["bootstrap_ci"]).fetchall()
    oc = con.execute(oracle_sql()["ab_cuped"]).fetchall()
    assert len(ob) == 1 and ob[0][0] is None and ob[0][1] == 32
    assert len(oc) == 1 and oc[0][0] == 0 and oc[0][5] is None
    con.close()


def test_prf_expansion_excludes_query_terms(spark):
    """PRF contract at sf0.001: every query gets exactly
    PRF_EXPANSION_TERMS dense-ranked expansion terms, none of which
    appear in the query document's own normalized text (the
    exclusion that makes it an EXPANSION), and scores are positive
    and non-increasing in rank."""
    from rsbsa_etl_spark import params as P
    from rsbsa_etl_spark.functions.dedup import normalized_text
    from rsbsa_etl_spark.functions.retrieval import prf_expand
    from rsbsa_etl_spark.sources.fixtures import load

    from pyspark.sql import functions as F

    from tests.conftest import SF_DIR

    docs = load(spark, SF_DIR, "documents")
    emb = load(spark, SF_DIR, "embeddings")
    qtext = {
        r.doc_id: set(r.norm.split(" "))
        for r in docs.where(
            F.col("doc_id").isin(list(P.ANN_QUERY_IDS))
        ).select("doc_id", normalized_text(F.col("text")).alias("norm"))
        .collect()
    }
    rows = prf_expand(docs, emb).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert len(by_q) == len(P.ANN_QUERY_IDS)
    for q, rs in by_q.items():
        # small-vocab fixture: after excluding the query's own
        # terms, fewer than m candidates can survive — ranks must
        # be dense from 1 up to min(m, survivors)
        assert 1 <= len(rs) <= P.PRF_EXPANSION_TERMS
        assert sorted(r.rank for r in rs) == list(range(1, len(rs) + 1))
        ordered = sorted(rs, key=lambda r: r.rank)
        for a, b in zip(ordered, ordered[1:]):
            assert a.prf_score >= b.prf_score
        for r in rs:
            assert r.term not in qtext[q], (q, r.term)
            assert r.prf_score > 0


def test_unicode_normalization_contract(spark):
    """the cross-engine boundary of the shared text normalization,
    measured and PINNED: lower/trim/\\s+ agree between Spark (Java
    String.toLowerCase) and DuckDB (utf8proc) across accented
    Latin, Cyrillic, Greek (non-final), fullwidth forms, CJK,
    emoji, NBSP (neither engine treats it as \\s — consistent), and
    the ǅ titlecase digraph — EXCEPT the two contextual case rules
    Java applies and utf8proc does not: Turkish dotted İ (Java:
    'i' + U+0307 combining dot; DuckDB: plain 'i') and Greek
    word-final Σ (Java: ς; DuckDB: σ). Java's rules are
    LOCALE-SENSITIVE — session.py pins the JVM to en-US so hashes
    cannot shift per deployment (a Turkish-locale JVM would map
    I → ı); the expectations below are the pinned-locale behavior.
    The fixtures are ASCII, so every oracle check is inside the
    agreeing region; this test turns the boundary into a tripwire —
    if either engine's behavior moves, it fails loudly instead of
    silently shifting hash matches."""
    import duckdb

    from pyspark.sql import functions as F

    from rsbsa_etl_spark.functions.dedup import normalized_text

    agree = [
        "Héllo WÖRLD", "ÄÖÜ äöü ß", "МОСКВА москва", "ＦＵＬＬＷＩＤＴＨ",
        "café au lait", "tab\tand\nnewline", "emoji 🙂 ok",
        "中文 大写", "ǅungla ǅ Ǆ", "ΑΒΓ αβγ",
    ]
    diverge = {
        # text: (spark_expected, duckdb_expected)
        "İstanbul I ı": ("i̇stanbul i ı", "istanbul i ı"),
        "ΣΟΦΟΣ": ("σοφος", "σοφοσ"),  # Java applies final sigma
    }
    rows = [(i, s) for i, s in enumerate(agree + list(diverge))]
    sdf = spark.createDataFrame(rows, "i long, text string")
    got = {
        r.i: r.n
        for r in sdf.select(
            "i", normalized_text(F.col("text")).alias("n")
        ).collect()
    }
    con = duckdb.connect()
    for i, s in rows:
        (d,) = con.execute(
            r"SELECT regexp_replace(lower(trim(?)), '\s+', ' ', 'g')", [s]
        ).fetchone()
        if s in diverge:
            exp_spark, exp_duck = diverge[s]
            assert got[i] == exp_spark, (s, got[i])
            assert d == exp_duck, (s, d)
        else:
            assert got[i] == d, (s, got[i], d)
    con.close()




def test_pii_regex_parity_java_vs_re2(spark):
    """Java regex (Spark) vs RE2 (DuckDB) must redact identically
    for the repo's PII patterns — checked over ~250 adversarial
    strings (greedy-quantifier boundaries, dots in local parts and
    domains, near-miss phone prefixes, pattern adjacency and
    overlap, repeated hits) in one batch per engine. The patterns
    deliberately use only syntax with identical semantics in both
    engines (no backrefs, no lookaround); this pins that claim."""
    import duckdb
    import random

    from pyspark.sql import functions as F

    from rsbsa_etl_spark.functions.curation import (
        PII_EMAIL_RE,
        PII_PHONE_RE,
    )

    crafted = [
        "user.name@mail.example.com", "a@b.co", "@no.local",
        "trailing@dot.", "a..b@x.--y.zz", "x@y.z",  # 1-char TLD: no match
        "+63-912-345-6789", "+63-812-345-6789", "+63-912-345-678",
        "mail a@b.cc then +63-999-000-1111 end",
        "a@b.cc+63-900-111-2222",  # adjacent, no separator
        "double a@b.cc c@d.ee hits", "dot.end@x.yz.", "UPPER@CASE.COM",
        "a@b.c-d", "-lead@x.yy", "a@-.yy", "..@..", "@@", "",
        " spaces  a@b.cc  ", "+63-9999-111-2222", "++63-900-111-2222",
    ]
    rng = random.Random(42)
    atoms = ["a", "b9", ".", "_", "-", "@", "cc.", "x.yy", "+63-9",
             "12-345-6789", " ", "word", "@m.co", "00-111-2222"]
    fuzz = [
        "".join(rng.choice(atoms) for _ in range(rng.randint(1, 8)))
        for _ in range(230)
    ]
    rows = [(i, s) for i, s in enumerate(crafted + fuzz)]
    sdf = spark.createDataFrame(rows, "i long, text string")
    got = {
        r.i: r.red
        for r in sdf.select(
            "i",
            F.regexp_replace(
                F.regexp_replace(F.col("text"), PII_EMAIL_RE, "[EMAIL]"),
                PII_PHONE_RE,
                "[PHONE]",
            ).alias("red"),
        ).collect()
    }
    con = duckdb.connect()
    for i, s in rows:
        (d,) = con.execute(
            "SELECT regexp_replace(regexp_replace(?, ?, '[EMAIL]', 'g'),"
            " ?, '[PHONE]', 'g')",
            [s, PII_EMAIL_RE, PII_PHONE_RE],
        ).fetchone()
        assert got[i] == d, (s, got[i], d)
    con.close()


def test_unicode_hash_and_ordering_parity(spark):
    """the two primitives every hash family and every ORDER-BY-term
    tie-break stand on, pinned beyond ASCII: md5 (both engines hash
    raw UTF-8 bytes — including NFC vs NFD 'é', which neither
    normalizes) and string ordering (both binary byte order, no
    collation)."""
    import duckdb

    from pyspark.sql import functions as F

    samples = [
        "héllo", "ß", "中文", "🙂", "ｆｗ", "a", "Z", "~",
        "é", "é", "ǅ", "ı", "Σ", "",
    ]
    sdf = spark.createDataFrame(
        [(i, s) for i, s in enumerate(samples)], "i long, s string"
    )
    md5s = {r.i: r.h for r in sdf.select("i", F.md5("s").alias("h")).collect()}
    order_spark = [r.s for r in sdf.orderBy("s").collect()]
    con = duckdb.connect()
    for i, s in enumerate(samples):
        (d,) = con.execute("SELECT md5(?)", [s]).fetchone()
        assert d == md5s[i], repr(s)
    order_duck = [
        r[0]
        for r in con.execute(
            "SELECT s FROM (SELECT unnest(?) AS s) ORDER BY s", [samples]
        ).fetchall()
    ]
    assert order_spark == order_duck
    con.close()


def test_spans_cut_golden(spark):
    """golden cut semantics on the dedup_spans golden corpus shape:
    a 4-gram duplicated across two docs is removed from BOTH, the
    surrounding unique tokens survive, a whole-doc duplicate cuts
    to empty (md5('')), and an untouched doc passes through with
    its original text hash."""
    import hashlib

    from rsbsa_etl_spark.functions.dedup import cut_duplicated_spans

    shared = "alpha beta gamma delta"
    docs = spark.createDataFrame(
        [
            (1, f"one two {shared} three"),
            (2, f"x {shared} y z"),
            (3, shared),               # whole doc duplicated
            (4, "totally unique words here"),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in cut_duplicated_spans(docs).collect()}
    assert (rows[1].n_tokens, rows[1].n_kept) == (7, 3)
    assert rows[1].clean_md5 == hashlib.md5(b"one two three").hexdigest()
    assert (rows[2].n_tokens, rows[2].n_kept) == (7, 3)
    assert rows[2].clean_md5 == hashlib.md5(b"x y z").hexdigest()
    assert (rows[3].n_tokens, rows[3].n_kept) == (4, 0)
    assert rows[3].clean_md5 == hashlib.md5(b"").hexdigest()
    assert rows[4].n_kept == rows[4].n_tokens == 4
    assert (
        rows[4].clean_md5
        == hashlib.md5(b"totally unique words here").hexdigest()
    )


def test_dedup_recall_metric_invariants(spark):
    """metric sanity at sf0.001: one row; n_hit bounded by both set
    sizes; ratios inside [0,1]; and on this fixture the banded LSH
    must surface a nonempty share of the true pair set (the
    candidate generator and the exact truth overlap — if this ever
    reads 0, a construction drifted)."""
    from rsbsa_etl_spark.functions.dedup import dedup_recall_eval
    from rsbsa_etl_spark.sources.fixtures import load

    from tests.conftest import SF_DIR

    r = dedup_recall_eval(load(spark, SF_DIR, "documents")).collect()[0]
    assert r.n_hit <= min(r.n_true, r.n_candidates)
    assert r.n_true > 0 and r.n_candidates > 0
    assert 0.0 < r.recall <= 1.0
    assert 0.0 < r.precision <= 1.0


def test_cusum_peaks_at_the_mean_shift(spark):
    """golden CUSUM walkthrough: five days at 10/day then five at
    50/day — the global mean is 30, deviations accumulate to −100
    by day 5 and return to 0 by day 10, so the |CUSUM| peak flags
    exactly the last day of the old regime, with the hand-computed
    trace values."""
    from rsbsa_etl_spark.operators.analytics import ts_changepoint

    rows = []
    for d in range(1, 11):
        v = 10.0 if d <= 5 else 50.0
        rows.append((d, 1, f"2024-01-{d:02d} 12:00:00", v))
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) AS ts", "value")
    got = {str(r.day): r for r in ts_changepoint(events).collect()}
    assert len(got) == 10
    peak = [d for d, r in got.items() if r.is_peak]
    assert peak == ["2024-01-05"]
    assert got["2024-01-05"].cusum == -100.0
    assert got["2024-01-01"].cusum == -20.0
    assert got["2024-01-10"].cusum == 0.0
    assert got["2024-01-06"].daily_total == 50.0


def test_benford_on_exponential_like_vs_uniform(spark):
    """Benford semantics: a genuinely multi-scale series (powers
    spanning decades) hugs the expected frequencies, while a
    one-digit-dominated series produces a large chi-square
    contribution on exactly that digit; rows always cover digits
    1..9 with frequencies summing to 1."""
    from rsbsa_etl_spark.operators.profiling import benford_digits

    # geometric growth 1.5^k spans decades -> roughly Benford
    geo = [(k, 1, "2024-01-01 00:00:00", 1.5 ** (k % 40) + 1e-3)
           for k in range(400)]
    ev = spark.createDataFrame(
        geo, "event_id long, user_id long, ts string, value double"
    ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) ts", "value")
    rows = {r.digit: r for r in benford_digits(ev).collect()}
    assert sorted(rows) == list(range(1, 10))
    total = sum(r.obs_freq for r in rows.values())
    assert abs(total - 1.0) < 1e-4
    assert rows[1].obs_freq > rows[9].obs_freq  # monotone-ish head

    uni = [(k, 1, "2024-01-01 00:00:00", 500.0 + k * 0.01)
           for k in range(300)]  # every value leads with 5
    ev2 = spark.createDataFrame(
        uni, "event_id long, user_id long, ts string, value double"
    ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) ts", "value")
    rows2 = {r.digit: r for r in benford_digits(ev2).collect()}
    assert rows2[5].obs_freq == 1.0
    assert rows2[5].chi2_part == max(r.chi2_part for r in rows2.values())


def test_kstest_matches_scipy_free_reference(spark):
    """the KS statistic equals a transparent pure-Python two-sample
    ECDF computation (same hash arms, same right-continuous
    distinct-value convention) on a constructed frame where the
    arms genuinely differ; and a same-distribution frame yields a
    small D with the location reported at the smallest argmax."""
    import hashlib

    from rsbsa_etl_spark.operators.profiling import ab_kstest

    def arm(u):
        return int(hashlib.md5(f"ab1|{u}".encode()).hexdigest()[:8], 16) % 2

    rows = []
    for u in range(200):
        # arm 1 shifted up by 5 — a clean distributional difference
        v = float(u % 17) + (5.0 if arm(u) == 1 else 0.0)
        rows.append((u, u, "2024-01-01 00:00:00", v))
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, ts string, value double"
    ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) ts", "value")
    got = ab_kstest(ev).collect()[0]

    a = sorted(int(v * 1e4 + 0.5) for (e, u, t, v) in rows if arm(u) == 0)
    b = sorted(int(v * 1e4 + 0.5) for (e, u, t, v) in rows if arm(u) == 1)
    n, m = len(a), len(b)
    best = (0, None)
    for v in sorted(set(a) | set(b)):
        na = sum(1 for x in a if x <= v)
        nb = sum(1 for x in b if x <= v)
        num = abs(na * m - nb * n)
        if num > best[0]:
            best = (num, v)
    assert (got.n_a, got.n_b) == (n, m)
    import math

    assert got.ks_d == math.floor(best[0] / n / m * 1e6 + 0.5) / 1e6
    assert got.at_value == best[1] / 1e4
    assert got.ks_d > 0.2  # the shift is detectable

    # same-distribution frame (identical values in both arms): tiny
    # D from arm-size imbalance only, and under MANY tied argmax
    # rows the reported location must be the SMALLEST attaining
    # value — plus NULL values are ignored and an all-one-arm frame
    # yields NULL statistics instead of a divide-by-zero
    same = [(u, u, "2024-01-01 00:00:00", float(u % 5)) for u in range(100)]
    same += [(900, 900, "2024-01-01 00:00:00", None)]
    ev3 = spark.createDataFrame(
        same, "event_id long, user_id long, ts string, value double"
    ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) ts", "value")
    r3 = ab_kstest(ev3).collect()[0]
    assert r3.n_a + r3.n_b == 100  # the NULL row dropped out
    a3 = sorted(int((u % 5) * 1e4 + 0.5) for u in range(100) if arm(u) == 0)
    b3 = sorted(int((u % 5) * 1e4 + 0.5) for u in range(100) if arm(u) == 1)
    best3, at3 = 0, None
    for v in sorted(set(a3) | set(b3)):
        num = abs(
            sum(1 for x in a3 if x <= v) * len(b3)
            - sum(1 for x in b3 if x <= v) * len(a3)
        )
        if num > best3:
            best3, at3 = num, v
    assert r3.ks_d == math.floor(
        best3 / len(a3) / len(b3) * 1e6 + 0.5
    ) / 1e6
    assert r3.at_value == at3 / 1e4  # smallest argmax under ties

    one_arm = [(u, u * 2, "2024-01-01 00:00:00", 1.0) for u in range(6)
               if arm(u * 2) == 0][:3]
    ev4 = spark.createDataFrame(
        one_arm, "event_id long, user_id long, ts string, value double"
    ).selectExpr("event_id", "user_id", "CAST(ts AS TIMESTAMP) ts", "value")
    r4 = ab_kstest(ev4).collect()[0]
    assert r4.n_b == 0 and r4.ks_d is None and r4.at_value is None


def test_stratified_sample_hamilton_allocation(spark):
    """exactly-K total, per-stratum counts equal to the Hamilton
    allocation (floor or floor+1 of the proportional share, extras
    by largest remainder), and determinism across runs."""
    from rsbsa_etl_spark.functions.curation import stratified_sample

    rows = (
        [(i, "en") for i in range(70)]
        + [(i + 100, "de") for i in range(20)]
        + [(i + 200, "zh") for i in range(7)]
        + [(i + 300, "fr") for i in range(3)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    k = 10
    out = stratified_sample(docs, k=k).collect()
    assert len(out) == k
    got = {}
    for r in out:
        got[r["lang"]] = got.get(r["lang"], 0) + 1
    # N=100: shares 7.0/2.0/0.7/0.3 -> bases 7/2/0/0, leftover 1 goes
    # to zh (remainder .7 largest)
    assert got == {"en": 7, "de": 2, "zh": 1}
    # exact-K and per-stratum counts == alloc column
    allocs = {r["lang"]: r["alloc"] for r in out}
    assert sum(allocs.values()) >= k  # alloc covers emitted strata
    for lang, n in got.items():
        assert allocs[lang] == n
    # deterministic: second run identical
    again = stratified_sample(docs, k=k).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in out}


def test_stratified_sample_null_stratum_excluded(spark):
    """NULL strata must not absorb allocation seats: the equi-join
    drops NULL keys, so seats given to a NULL stratum could never
    emit and the sample would silently come up short of K. With the
    NULL rows excluded up front, the sample is still exactly K and
    every emitted stratum is non-NULL."""
    from rsbsa_etl_spark.functions.curation import stratified_sample

    rows = (
        [(i, "en") for i in range(40)]
        + [(i + 100, "de") for i in range(20)]
        + [(i + 200, None) for i in range(40)]  # 40% NULL stratum
    )
    docs = spark.createDataFrame(rows, "doc_id long, lang string")
    out = stratified_sample(docs, k=6).collect()
    assert len(out) == 6  # exact K despite the NULL mass
    assert all(r["lang"] is not None for r in out)
    # allocation computed over the 60 non-NULL docs: 40/60 and 20/60
    got = {}
    for r in out:
        got[r["lang"]] = got.get(r["lang"], 0) + 1
    assert got == {"en": 4, "de": 2}


def test_mix_epochs_budget_exact_and_caps_respected(spark):
    """the allocation must exhaust the budget EXACTLY, never exceed
    any source's epoch cap, and flatten the mixture: the smaller
    source trains for MORE epochs than the bigger one (temperature
    alpha=0.5), with the cap binding where the math says it should."""
    from rsbsa_etl_spark import params as P
    from rsbsa_etl_spark.functions.curation import mix_epochs

    # big source: 90 docs x 10 tokens; small: 10 docs x 10 tokens
    rows = [(i, "big", "t " * 10) for i in range(90)] + [
        (i + 1000, "small", "t " * 10) for i in range(10)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    out = {r["source"]: r for r in mix_epochs(docs).collect()}
    big, small = out["big"], out["small"]
    total = big["n_tokens"] + small["n_tokens"]
    budget = (P.MIX_BUDGET_NUM * total) // P.MIX_BUDGET_DEN
    assert big["alloc"] + small["alloc"] == budget, "budget not exhausted"
    for r in out.values():
        assert r["alloc"] <= r["cap"] == P.MIX_MAX_EPOCHS * r["n_tokens"]
        assert r["epochs_milli"] == (r["alloc"] * 1000) // r["n_tokens"]
    # temperature flattening: small source's epoch share strictly
    # higher (it hits the 2-epoch cap; the big side absorbs the rest)
    assert small["epochs_milli"] > big["epochs_milli"]
    assert small["alloc"] == small["cap"], "small source should cap at 2 epochs"


def test_hard_negatives_ivf_edges_exact_and_label_filtered(spark):
    """the IVF hard-negative set is approximate in WHICH candidates
    it sees but exact in what it emits: every edge must cross labels,
    carry the exact-arm cosine for that pair, have contiguous ranks,
    and recover a reasonable fraction of the exact mined set."""
    from rsbsa_etl_spark.functions.similarity import (
        hard_negatives,
        hard_negatives_ivf,
    )
    from rsbsa_etl_spark.sources.fixtures import load

    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")
    exact = {
        (r.vec_id, r.neighbor_id): r.cosine
        for r in hard_negatives(emb).collect()
    }
    approx = hard_negatives_ivf(emb).collect()
    per_src: dict[int, list[int]] = {}
    for r in approx:
        assert r.label != r.neighbor_label
        per_src.setdefault(r.vec_id, []).append(r.rank)
        if (r.vec_id, r.neighbor_id) in exact:
            assert exact[(r.vec_id, r.neighbor_id)] == r.cosine
    for ranks in per_src.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    hits = sum(
        1
        for pair in exact
        if pair in {(r.vec_id, r.neighbor_id) for r in approx}
    )
    assert hits / len(exact) > 0.3, hits / len(exact)


def test_stratified_sample_edge_cases(spark):
    """contract pins: (a) K larger than a stratum's proportional
    share never over-draws a stratum beyond its population — the
    emitted count per stratum is min(n_g, alloc_g); (b) a NULL
    stratum participates in the allocation arithmetic but can never
    emit (equi-join semantics drop NULL keys in BOTH engines — the
    oracle's USING join behaves identically, so parity holds); (c) a
    single-stratum corpus degenerates to fixed_n_sample semantics."""
    from rsbsa_etl_spark.functions.curation import stratified_sample

    # (a)+(b): 5 en docs, 3 NULL-lang docs, K=6 over N=8
    docs = spark.createDataFrame(
        [(i, "en") for i in range(5)] + [(i + 10, None) for i in range(3)],
        "doc_id long, lang string",
    )
    out = stratified_sample(docs, k=6).collect()
    # en's share: floor(6*5/8)=3 (+maybe remainder); NULL never emits
    assert all(r["lang"] == "en" for r in out)
    assert 3 <= len(out) <= 5
    # (c): one stratum takes all K seats
    docs1 = spark.createDataFrame(
        [(i, "en") for i in range(50)], "doc_id long, lang string"
    )
    out1 = stratified_sample(docs1, k=7).collect()
    assert len(out1) == 7 and all(r["alloc"] == 7 for r in out1)


def test_tokenizer_fertility_known_counts(spark):
    """hand-computable fixture: 'aaaa bb' = 2 words; boundary split
    leaves [aaaa, bb] -> subwords ceil(4/4)+ceil(2/4) = 2; 'a1!' =
    1 word -> pieces [a, 1, !] -> 3 subwords. Fertility and
    chars-per-token must come out exactly."""
    from rsbsa_etl_spark.functions.textstats import tokenizer_fertility

    docs = spark.createDataFrame(
        [(1, "en", "aaaa bb", 7), (2, "en", "aaaa bb", 7),
         (3, "de", "a1!", 3), (4, "de", None, 0)],
        "doc_id long, lang string, text string, n_chars long",
    )
    got = {r["lang"]: r for r in tokenizer_fertility(docs).collect()}
    en, de = got["en"], got["de"]
    assert (en["n_docs"], en["words"], en["subwords"]) == (2, 4, 4)
    assert en["fertility"] == 1.0 and en["chars_per_token"] == 3.5
    assert (de["n_docs"], de["words"], de["subwords"]) == (1, 1, 3)
    assert de["fertility"] == 3.0
    assert "None" not in got and None not in got  # NULL text dropped


def test_strip_markup_cleans_and_decodes(spark):
    """tags gone, entities decoded, whitespace collapsed, ratio
    exact — and the boilerplate nav TEXT survives tag-stripping by
    design (line-level boilerplate is the quality family's job;
    this operator is the markup pass)."""
    from rsbsa_etl_spark.functions.curation import strip_markup

    docs = spark.createDataFrame(
        [(1, "srcA", "hello   world")],
        "doc_id long, source string, text string",
    )
    (row,) = strip_markup(docs).collect()
    clean = row["clean_text"]
    assert "<" not in clean.replace("<soon>", "")
    assert clean == "srcA hello world & more <soon> home | about | login"
    assert row["retained_milli"] == len(clean) * 1000 // (
        len("<html><body><h1>srcA</h1><p>hello   world &amp; more "
            "&lt;soon&gt;</p>"
            '<div class="nav">home | about | login</div></body></html>')
    )


def test_intra_doc_spans_mark_repeats_not_unique_text(spark):
    """golden walkthrough for the within-doc span detector: a doc
    that repeats a k-gram gets exactly the repeated region marked
    (both occurrences — the cut keeps neither, matching the span
    family's cut-everything-covered convention); a doc of all-unique
    grams emits nothing, even though its grams would collide with
    ANOTHER doc's (that is dedup_spans' job, not this one's)."""
    from rsbsa_etl_spark import params as Pm
    from rsbsa_etl_spark.functions.dedup import intra_doc_duplicated_spans

    k = Pm.SPAN_NGRAM_K
    rep_unit = " ".join(f"w{i}" for i in range(k))         # one k-gram
    filler = " ".join(f"u{i}" for i in range(k))
    # doc 1: gram repeated with unique filler between; doc 2 = one
    # copy of doc 1's vocabulary but no internal repeat; doc 3 has
    # no k-gram at all (shorter than k tokens)
    docs = spark.createDataFrame(
        [
            (1, f"{rep_unit} {filler} {rep_unit}"),
            (2, f"{rep_unit} {filler}"),
            (3, "tiny"),
        ],
        "doc_id long, text string",
    )
    rows = intra_doc_duplicated_spans(docs).collect()
    assert {r.doc_id for r in rows} == {1}
    spans = sorted((r.span_start, r.span_end) for r in rows)
    # both occurrences of the repeated gram are marked: positions
    # 0..k-1 and 2k..3k-1 (the filler keeps them from merging)
    assert spans == [(0, k - 1), (2 * k, 3 * k - 1)]
    assert all(r.span_tokens == k for r in rows)


def test_intra_doc_spans_degenerate_repetition_doc(spark):
    """adversarial fixture for the intra-doc skew claim (r13 verdict
    item 7): the detector's shuffle is keyed (doc_id, gram), so its
    worst case is ONE pathological document — here 1000 repetitions
    of the same k tokens (~1000·k gram rows landing in k groups of
    ~1000 occurrences each, all for one doc_id). The contract under
    that degeneracy: every k-gram window of the loop repeats, so
    detection must mark the ENTIRE document as one maximal span and
    the cut must remove essentially the whole text (the family's
    cut-everything-covered convention — a pure repeat is boilerplate,
    not content). A unique-text control doc of the same length must
    survive untouched, proving the blowup stays bounded by the
    degenerate doc instead of leaking corpus-wide."""
    import hashlib

    from rsbsa_etl_spark import params as Pm
    from rsbsa_etl_spark.functions.dedup import (
        cut_intra_doc_spans,
        intra_doc_duplicated_spans,
    )

    k = Pm.SPAN_NGRAM_K
    reps = 1000
    unit = " ".join(f"w{i}" for i in range(k))
    degenerate = " ".join([unit] * reps)          # reps·k tokens
    control = " ".join(f"u{i}" for i in range(reps * k))  # all unique
    docs = spark.createDataFrame(
        [(1, degenerate), (2, control)], "doc_id long, text string"
    )

    rows = intra_doc_duplicated_spans(docs).collect()
    assert {r.doc_id for r in rows} == {1}
    # one maximal span covering every token of the degenerate doc
    assert [(r.span_start, r.span_end, r.span_tokens) for r in rows] == [
        (0, reps * k - 1, reps * k)
    ]

    cut = {r["doc_id"]: r for r in cut_intra_doc_spans(docs).collect()}
    assert cut[1]["n_tokens"] == reps * k and cut[1]["n_kept"] == 0
    assert cut[1]["clean_md5"] == hashlib.md5(b"").hexdigest()
    # the same-length unique doc is untouched, byte-for-byte
    assert cut[2]["n_kept"] == cut[2]["n_tokens"] == reps * k
    assert cut[2]["clean_md5"] == hashlib.md5(control.encode()).hexdigest()


def test_knn_graph_auto_picks_bit_identical_arm(spark, monkeypatch):
    """r14 kNN-graph auto-dial: on each side of the vector-count
    budget the auto entry point must be bit-identical to the
    explicit arm it delegates to (the dial chooses, never changes
    results). Patching the ``params`` budget forces both sides on
    one corpus; the registered key's default pick is
    oracle-checked."""
    from rsbsa_etl_spark import params
    from rsbsa_etl_spark.functions import similarity
    from rsbsa_etl_spark.sources.fixtures import load
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    exact = rows(similarity.knn_graph(emb))
    ivf = rows(similarity.knn_graph_ivf(emb))
    monkeypatch.setattr(params, "KNN_GRAPH_AUTO_MAX_VECTORS", 1 << 40)
    assert rows(similarity.knn_graph_auto(emb)) == exact
    monkeypatch.setattr(params, "KNN_GRAPH_AUTO_MAX_VECTORS", 0)
    assert rows(similarity.knn_graph_auto(emb)) == ivf
    assert len(exact) > 0 and exact != ivf  # the dial is a real choice


def test_geometry_profile_separates_the_curves(spark):
    """r15 geometry detection (``geometry_profile``'s verdict): the
    mean-assigned-cosine statistic vs the analytic EVT null must
    call the driver fixture's isotropic gaussian corpus 'isotropic'
    (its mean sits BELOW sqrt(2·ln(m)/64) — probe self-assignments
    are excluded, which at 500 vectors / 128 probes would otherwise
    fake a clustered verdict) and a synthetically collapsed
    5-cluster corpus 'clustered' (every non-probe vector has an
    exact-duplicate probe: mean cosine 1.0)."""
    from pyspark.sql import functions as SF

    from rsbsa_etl_spark.functions import similarity
    from rsbsa_etl_spark.sources.fixtures import load
    from tests.conftest import SF_DIR

    def verdict(df):
        return similarity.geometry_profile(df).collect()[0]["geometry"]

    emb = load(spark, SF_DIR, "embeddings")
    assert verdict(emb) == "isotropic"
    base = emb.where(SF.col("vec_id") < 5).select(
        SF.col("vec_id").alias("b"), SF.col("embedding").alias("bv")
    )
    clustered = (
        emb.select("vec_id", (SF.col("vec_id") % 5).alias("b"))
        .join(base, "b")
        .select("vec_id", SF.col("bv").alias("embedding"))
    )
    assert verdict(clustered) == "clustered"


def test_embedding_dedup_auto_picks_bit_identical_arm(spark, monkeypatch):
    """r15 embedding-dedup auto-dial (the last quadratic kernel's
    wired crossover): patching the ``params`` budget forces each side
    on one corpus;
    the exact side must be bit-identical to cosine_pairs, and the
    semantic side must be exactly dedup_semantic's member→exemplar
    prune edges in the shared (vec_a < vec_b, cosine) pair contract."""
    from pyspark.sql import functions as SF

    from rsbsa_etl_spark import params
    from rsbsa_etl_spark.functions import similarity
    from rsbsa_etl_spark.sources.fixtures import load
    from tests.conftest import SF_DIR

    emb = load(spark, SF_DIR, "embeddings")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    exact = rows(similarity.cosine_pairs(emb))
    sem_edges = rows(
        similarity.semantic_dedup(emb)
        .where(~SF.col("keep"))
        .select(
            SF.least("vec_id", "exemplar_id").alias("vec_a"),
            SF.greatest("vec_id", "exemplar_id").alias("vec_b"),
            SF.col("cos_exemplar").alias("cosine"),
        )
    )
    monkeypatch.setattr(params, "DEDUP_EMBEDDING_AUTO_MAX_VECTORS", 1 << 40)
    auto_exact = similarity.embedding_dedup_auto(emb)
    monkeypatch.setattr(params, "DEDUP_EMBEDDING_AUTO_MAX_VECTORS", 0)
    auto_sem = similarity.embedding_dedup_auto(emb)
    # the two sides share one column contract (driver-stable schema)
    assert auto_exact.columns == auto_sem.columns == [
        "vec_a", "vec_b", "cosine"
    ]
    assert rows(auto_exact) == exact
    assert rows(auto_sem) == sem_edges
    assert len(exact) > 0 and exact != sem_edges  # a real choice
    # every semantic-arm edge honors the threshold contract (NOT keep
    # ⇒ cos ≥ threshold by the keep flag's definition)
    from rsbsa_etl_spark.params import COSINE_THRESHOLD

    assert all(c >= COSINE_THRESHOLD for _, _, c in sem_edges)


def test_theil_sen_auto_picks_bit_identical_arm(spark, monkeypatch):
    """r14 Theil-Sen SKEW auto-dial: patching the ``params`` budget
    forces each side on one corpus; the auto rows must equal the
    explicit arm exactly (the dial chooses, never changes results)."""
    from rsbsa_etl_spark import params
    from rsbsa_etl_spark.operators.analytics import (
        trend_theil_sen,
        trend_theil_sen_auto,
        trend_theil_sen_capped,
    )
    from rsbsa_etl_spark.sources.fixtures import load
    from tests.conftest import SF_DIR

    ev = load(spark, SF_DIR, "events")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    exact = rows(trend_theil_sen(ev))
    capped = rows(trend_theil_sen_capped(ev))
    monkeypatch.setattr(params, "THEIL_SEN_AUTO_MAX_POINTS_PER_USER", 1 << 40)
    assert rows(trend_theil_sen_auto(ev)) == exact
    monkeypatch.setattr(params, "THEIL_SEN_AUTO_MAX_POINTS_PER_USER", 0)
    assert rows(trend_theil_sen_auto(ev)) == capped
    assert len(exact) > 0 and exact != capped  # the dial is a real choice
