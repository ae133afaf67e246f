"""DuckDB oracle SQL for every oracle-checkable query in
``registry.QUERIES``.

Built from the same ``params`` constants as the Spark queries so the
two sides cannot drift. Portability rules mirrored here:

- fixed-point rounding is ``CAST(CAST(x AS DECIMAL(18,n)) AS DOUBLE)``
  (see ``functions/numeric.py`` for why not ``round()``);
- epoch seconds are ``epoch_ms(ts) // 1000`` (truncating, matching
  Spark ``unix_seconds``);
- DuckDB ``regexp_replace`` needs the ``'g'`` flag to match Spark's
  global-by-default semantics;
- DuckDB replacement backrefs are ``\\1`` where Spark uses ``$1``;
- md5() of a VARCHAR hashes its UTF-8 bytes in both engines.

EVERY registry key has an oracle here — 1:1 with ``queries()``
(tests/test_oracle_parity.py::test_every_query_is_value_checked
pins ROWS_ONLY empty). That includes the
stateful/streaming keys: ``stream_tail`` (deterministic replay →
ORDER-BY-SQL since round 5) and ``stream_cdc_apply`` (keyed
last-write-wins over the CDC log), and the Arrow-batched multimodal
path — all value-checked, none rows-only.
"""

from __future__ import annotations

from rsbsa_etl_spark import params as P
from rsbsa_etl_spark.functions.numeric import sql_round, sql_sum_fixed
from rsbsa_etl_spark.params import sql_in_list

# ---------------------------------------------------------- shared fragments

#: normalized text (lower + collapse whitespace) — mirrors
#: ``dedup.normalized_text``
#: Unicode boundary (measured, pinned by
#: tests/test_property.py::test_unicode_normalization_contract):
#: Java and DuckDB lower() agree across accented Latin / Cyrillic /
#: Greek (non-final) / fullwidth / CJK / emoji, and neither treats
#: NBSP as \s — but Java applies LOCALE-SENSITIVE contextual case
#: rules (under the en-US locale session.py PINS via
#: extraJavaOptions: Turkish İ → i+U+0307, Greek word-final Σ → ς;
#: a Turkish-locale JVM would ALSO map I → ı, which is why the
#: locale pin exists) and utf8proc does not. The fixtures are
#: ASCII, so every oracle runs inside the agreeing region; corpora
#: containing those codepoints would need an engine-side
#: case-folding alignment first.
NORM = r"regexp_replace(lower(trim(text)), '\s+', ' ', 'g')"

#: whitespace tokens of normalized text
TOKS = f"string_split({NORM}, ' ')"

_K = P.SHINGLE_K

#: distinct k-word shingles — mirrors ``dedup.shingles_col``
SHINGLES_CTE = f"""
toks AS (SELECT doc_id, {TOKS} AS toks FROM documents
         WHERE text IS NOT NULL),
sh AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(toks) >= {_K}
                THEN list_transform(range(1, len(toks) - {_K} + 2),
                                    i -> array_to_string(toks[i:i+{_K - 1}], ' '))
                ELSE [array_to_string(toks, ' ')] END) AS shingles
  FROM toks
)"""


def _dec(expr: str, scale: int) -> str:
    """portable round-half-up — mirrors ``numeric.dec_round``."""
    return sql_round(expr, scale)


def _hexpoly(col: str, start: int, ndigits: int = 8) -> str:
    """``ndigits`` hex digits of ``col`` from 1-based ``start`` →
    BIGINT, equal to Spark ``conv(substring(col, start, n), 16, 10)``
    (n ≤ 15 keeps the polynomial inside BIGINT exactly)."""
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({col}, {start + i}, 1)) - 1)"
        f" * {16 ** (ndigits - 1 - i)}"
        for i in range(ndigits)
    )
    return f"CAST({terms} AS BIGINT)"


def _minhash_sql(cap: int | None = None) -> str:
    """universal-hash minhash signature + banding + candidate pairs —
    the exact construction of ``dedup.minhash_signature`` /
    ``minhash_bands``: one md5 per shingle → two 32-bit chunks →
    ``(h1·a + h2·b + c) mod M`` per permutation. With ``cap``, band
    buckets over that size are dropped first (the skew guard of
    ``dedup.minhash_capped_pairs``)."""
    perm_mins = ", ".join(
        f"min((h1 * {a} + h2 * {b} + {c}) % {P.MINHASH_MOD}) AS m{p}"
        for p, (a, b, c) in enumerate(P.MINHASH_COEFFS)
    )
    rows = P.MINHASH_PERMS // P.MINHASH_BANDS
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band, md5({parts}) AS band_hash FROM sig".format(
            b=b,
            parts=" || '|' || ".join(
                f"CAST(m{b * rows + r} AS VARCHAR)" for r in range(rows)
            ),
        )
        for b in range(P.MINHASH_BANDS)
    )
    pair_src = "bands"
    cap_cte = ""
    if cap is not None:
        cap_cte = f""",
sized AS (SELECT doc_id, band, band_hash,
                 count(*) OVER (PARTITION BY band, band_hash) AS bsz
          FROM bands)
, kept AS (SELECT doc_id, band, band_hash FROM sized WHERE bsz <= {cap})"""
        pair_src = "kept"
    return f"""
WITH {SHINGLES_CTE},
hs AS (SELECT doc_id, md5(unnest(shingles)) AS h FROM sh),
chunks AS (SELECT doc_id, {_hexpoly("h", 1)} AS h1, {_hexpoly("h", 9)} AS h2 FROM hs),
sig AS (SELECT doc_id, {perm_mins} FROM chunks GROUP BY doc_id),
bands AS ({band_selects}){cap_cte}
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM {pair_src} a JOIN {pair_src} b
  ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""


def _simhash_sql(bits: int = P.SIMHASH_BITS) -> str:
    """simhash votes — the exact construction of
    ``dedup.simhash_signature`` (hex-char probe + integer bit math)."""
    votes = []
    for j in range(bits):
        power = 2 ** (3 - j % 4)
        votes.append(
            f"CAST(sum((((strpos('0123456789abcdef', substr(h, {1 + j // 4}, 1)) - 1)"
            f" // {power}) % 2) * 2 - 1) AS BIGINT) AS v{j}"
        )
    sim_terms = " + ".join(
        f"CASE WHEN v{j} > 0 THEN {1 << (bits - 1 - j)} ELSE 0 END"
        for j in range(bits)
    )
    return f"""
WITH toks AS (SELECT doc_id, {TOKS} AS toks FROM documents),
tok AS (SELECT doc_id, md5(unnest(list_distinct(toks))) AS h FROM toks),
votes AS (SELECT doc_id, {", ".join(votes)} FROM tok GROUP BY doc_id),
sig AS (SELECT doc_id, CAST({sim_terms} AS BIGINT) AS simhash FROM votes)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {P.SIMHASH_MAX_HAMMING}
"""


#: embedding vectors as double + L2 norm — mirrors ``similarity.with_norm``
_EMB_CTE = """
e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e)"""

_DOT = "list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i]))"

#: in-pool pairwise/query cosine at the MMR 1e-6 integer
#: quantization — single-sourced for the mmr_rerank and hybrid_mmr
#: oracles (the SQL twin of the in-pool similarities that
#: retrieval._greedy_mmr's grouped kernel computes)
_MMR_SIM = f"CAST(floor({_DOT} / (a.nrm * b.nrm) * 1000000.0 + 0.5) AS BIGINT)"


def _sign_mix(row: int) -> str:
    """the Hadamard-row ±v[j] chain behind one sign-LSH bit —
    identical left-associative double arithmetic to the engine's
    ``similarity._py_sign_bucket`` and the scoring kernel's mixing
    fold, so the bucket ids are bit-equal."""
    parts = []
    for j in range(P.LSH_MIX_WIDTH):
        sign = "-" if P.hadamard_sign(row, j) < 0 else "+"
        parts.append(f"{sign} CAST(embedding[{j + 1}] AS DOUBLE)")
    # j=0 has popcount(row & 0) = 0, so the leading sign is always +
    return " ".join(parts)[2:]


def _ann_sql(bucketed: bool, multiprobe: bool = False) -> str:
    qids = sql_in_list(P.ANN_QUERY_IDS)
    bucket_expr = " + ".join(
        f"CASE WHEN ({_sign_mix(i + 1)}) > 0 THEN {1 << i} ELSE 0 END"
        for i in range(P.LSH_SIGN_DIMS)
    )
    bucket_cte = (
        f",\nbk AS (SELECT vec_id, CAST({bucket_expr} AS INT) AS bucket FROM embeddings)"
        if bucketed
        else ""
    )
    # multiprobe: buckets within Hamming distance LSH_PROBE_HAMMING —
    # identical pair set to exploding the probe buckets per query
    from itertools import combinations

    flips = ", ".join(
        ["0"]
        + [
            str(sum(1 << i for i in bits))
            for r in range(1, P.LSH_PROBE_HAMMING + 1)
            for bits in combinations(range(P.LSH_SIGN_DIMS), r)
        ]
    )
    bucket_cond = (
        f"xor(ba.bucket, bb.bucket) IN ({flips})"
        if multiprobe
        else "ba.bucket = bb.bucket"
    )
    joins = (
        "JOIN bk ba ON ba.vec_id = a.vec_id JOIN bk bb ON bb.vec_id = b.vec_id"
        f"\n       AND {bucket_cond}"
        if bucketed
        else ""
    )
    sim6 = _dec(f"{_DOT} / (a.nrm * b.nrm)", 6)
    return f"""
WITH {_EMB_CTE.strip()}{bucket_cte},
scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, {sim6} AS cosine
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
  {joins}
  WHERE a.vec_id IN ({qids})
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, {_dec("cosine", 4)} AS cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {P.ANN_TOP_K}
"""


def _ivf_sql(k: int = P.ANN_TOP_K) -> str:
    """IVF ANN — mirrors ``similarity.ivf_topk``: deterministic
    centroids (vec_id < n), argmin-L2² cell assignment, nprobe
    nearest cells per query, exact cosine rank within candidates.
    All folds are sequential list_sum, matching F.aggregate.
    ``k`` parametrizes the final rank cut (round 12: the
    mmr_rerank_ivf composition retrieves an MMR_POOL_K-sized pool
    through the same plan)."""
    qids = sql_in_list(P.ANN_QUERY_IDS)
    d2 = "list_sum(list_transform(range(1, 65), i -> (a.v[i] - c.vc[i]) * (a.v[i] - c.vc[i])))"
    sim6 = _dec(f"{_DOT} / (a.nrm * b.nrm)", 6)
    return f"""
WITH {_EMB_CTE.strip()},
cents AS (SELECT vec_id AS cid, v AS vc FROM n WHERE vec_id < {P.IVF_CENTROIDS}),
corp_d AS (
  SELECT a.vec_id AS nid, c.cid, {d2} AS d2 FROM n a, cents c
),
cells AS (
  SELECT nid, cid FROM (
    SELECT nid, cid,
           row_number() OVER (PARTITION BY nid ORDER BY d2 ASC, cid ASC) AS rn
    FROM corp_d) WHERE rn = 1
),
q_d AS (
  SELECT a.vec_id AS qid, c.cid, {d2} AS d2 FROM n a, cents c
  WHERE a.vec_id IN ({qids})
),
probes AS (
  SELECT qid, cid FROM (
    SELECT qid, cid,
           row_number() OVER (PARTITION BY qid ORDER BY d2 ASC, cid ASC) AS rn
    FROM q_d) WHERE rn <= {P.IVF_NPROBE}
),
scored AS (
  SELECT q.qid AS query_id, x.nid AS neighbor_id, {sim6} AS cosine
  FROM probes q
  JOIN cells x ON x.cid = q.cid
  JOIN n a ON a.vec_id = q.qid
  JOIN n b ON b.vec_id = x.nid
  WHERE q.qid <> x.nid
),
ranked AS (
  SELECT query_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, {_dec("cosine", 4)} AS cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {k}
"""


# --------------------------------------------------------------- the oracle

LINEITEM_COLS = (
    "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, "
    "l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus"
)

ORACLES: dict[str, str] = {}

ORACLES["scan_filter_in"] = f"""
SELECT {LINEITEM_COLS}, epoch_ms(l_shipdate) // 1000 AS l_shipdate
FROM lineitem WHERE l_orderkey IN ({sql_in_list(P.ORDER_KEYS)})
"""

ORACLES["scan_project"] = f"""
SELECT l_orderkey, l_extendedprice
FROM lineitem WHERE l_orderkey IN ({sql_in_list(P.ORDER_KEYS)})
"""

ORACLES["scan_incremental"] = f"""
SELECT event_id, user_id, event_type, value
FROM events WHERE event_id > {P.WATERMARK_EVENT_ID}
"""

ORACLES["agg_count_filtered"] = """
SELECT count(*) AS n_records FROM events
WHERE nullif(event_type, 'error') IS NOT NULL AND user_id IS NOT NULL
"""

ORACLES["filter_notnull"] = """
SELECT event_id,
       nullif(event_type, 'error') AS maybe_type,
       CASE WHEN value > 5.0 THEN value END AS maybe_value
FROM events
WHERE nullif(event_type, 'error') IS NOT NULL
  AND (CASE WHEN value > 5.0 THEN value END) IS NOT NULL
"""

ORACLES["filter_split_valid"] = """
SELECT CASE WHEN event_type <> 'error' AND value > 1.0
            THEN 'valid' ELSE 'invalid' END AS validity,
       count(*) AS n_records
FROM events GROUP BY 1
"""

_HVO = (
    f"SELECT o_custkey FROM orders WHERE o_totalprice > {P.TARGET_PRICE_MIN}"
    f" AND o_orderstatus = '{P.TARGET_STATUS}'"
)

ORACLES["join_semi"] = f"""
SELECT c_custkey, c_name FROM customer WHERE c_custkey IN ({_HVO})
"""

ORACLES["join_anti"] = f"""
SELECT c_custkey, c_name FROM customer WHERE c_custkey NOT IN ({_HVO})
"""

ORACLES["join_bridge_2step"] = f"""
SELECT DISTINCT o.o_orderkey, l.l_partkey AS p_partkey, p.p_name
FROM orders o
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN part p ON p.p_partkey = l.l_partkey
WHERE o.o_custkey IN ({sql_in_list(P.CUST_KEYS)})
"""

ORACLES["join_dependent"] = f"""
SELECT p_partkey, p_name, p_retailprice FROM part
WHERE p_partkey IN (SELECT DISTINCT l_partkey FROM lineitem
                    WHERE l_orderkey IN ({sql_in_list(P.ORDER_KEYS)}))
"""

ORACLES["groupby_collect"] = """
SELECT event_type, user_id, count(*) AS n_records
FROM events GROUP BY 1, 2
"""

ORACLES["distinct_keys"] = f"""
SELECT DISTINCT o_custkey FROM orders
WHERE o_totalprice > {P.TARGET_PRICE_MIN} AND o_orderstatus = '{P.TARGET_STATUS}'
"""

ORACLES["agg_sum_groups"] = f"""
SELECT l_returnflag, l_linestatus,
       {sql_sum_fixed("l_quantity", 2)} AS sum_qty,
       {sql_sum_fixed("l_extendedprice", 2)} AS sum_base_price,
       {sql_sum_fixed("l_extendedprice * (1 - l_discount)", 6)} AS sum_disc_price,
       {_dec(f'({sql_sum_fixed("l_quantity", 2)}) / count(*)', 4)} AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY 1, 2
"""

ORACLES["sort_order"] = """
SELECT event_id, epoch_ms(ts) AS ts_ms FROM events ORDER BY event_id
"""

ORACLES["limit_offset"] = f"""
SELECT event_id, event_type FROM events
ORDER BY event_id LIMIT {P.PAGE_SIZE} OFFSET {P.PAGE_OFFSET}
"""

ORACLES["topk_recent"] = f"""
SELECT event_id, epoch_ms(ts) AS ts_ms, event_type FROM events
ORDER BY ts DESC, event_id DESC LIMIT {P.TOPK_N}
"""

ORACLES["union_paths"] = f"""
SELECT c_custkey, c_name, 'update' AS path FROM customer
WHERE c_custkey IN ({_HVO})
UNION ALL
SELECT c_custkey, c_name, 'insert' AS path FROM customer
WHERE c_custkey NOT IN ({_HVO})
"""

ORACLES["upsert_merge"] = f"""
WITH target AS (
  SELECT o_orderkey, {_dec("o_totalprice", 2)} AS o_totalprice
  FROM orders
  WHERE o_totalprice > {P.TARGET_PRICE_MIN} AND o_orderstatus = '{P.TARGET_STATUS}'
),
updates AS (
  SELECT o_orderkey, {_dec("o_totalprice * 1.1", 2)} AS o_totalprice
  FROM orders WHERE o_orderkey % {P.UPSERT_KEY_MOD} = 0
)
SELECT * FROM updates
UNION ALL
SELECT t.* FROM target t
WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM updates)
"""

ORACLES["merge_cdc"] = f"""
WITH target AS (
  SELECT o_orderkey, {_dec("o_totalprice", 2)} AS o_totalprice
  FROM orders
  WHERE o_totalprice > {P.TARGET_PRICE_MIN} AND o_orderstatus = '{P.TARGET_STATUS}'
),
changes AS (
  SELECT o_orderkey, {_dec("o_totalprice * 1.1", 2)} AS o_totalprice,
         CASE WHEN o_orderkey % 7 = 0 THEN 'D' ELSE 'U' END AS op
  FROM orders
  WHERE o_orderkey % 7 = 0 OR o_orderkey % {P.UPSERT_KEY_MOD} = 0
)
SELECT o_orderkey, o_totalprice FROM changes WHERE op <> 'D'
UNION ALL
SELECT t.* FROM target t
WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM changes)
"""

ORACLES["overwrite_by_key"] = f"""
WITH target AS (
  SELECT l_orderkey, l_linenumber, {_dec("l_quantity", 2)} AS l_quantity
  FROM lineitem WHERE l_orderkey < 1000
),
incoming AS (
  SELECT l_orderkey, l_linenumber, {_dec("l_quantity + 100", 2)} AS l_quantity
  FROM lineitem
  WHERE l_orderkey IN ({sql_in_list(P.ORDER_KEYS)}) AND l_linenumber <= 2
)
SELECT * FROM incoming
UNION ALL
SELECT t.* FROM target t
WHERE t.l_orderkey NOT IN (SELECT DISTINCT l_orderkey FROM incoming)
"""

ORACLES["sync_pipeline_o2o"] = f"""
WITH keys AS (
  SELECT DISTINCT user_id AS k FROM events
  WHERE event_id > {P.WATERMARK_EVENT_ID}
    AND user_id % 3 = 0 AND nullif(user_id, 0) IS NOT NULL
),
batch AS (
  SELECT c_custkey, upper(c_name) AS c_name, upper(c_mktsegment) AS c_mktsegment
  FROM customer WHERE c_custkey IN (SELECT k FROM keys)
),
tgt AS (
  SELECT c_custkey, lower(c_name) AS c_name, c_mktsegment
  FROM customer WHERE c_custkey % 2 = 0
)
SELECT * FROM batch
UNION ALL
SELECT t.* FROM tgt t
WHERE t.c_custkey NOT IN (SELECT c_custkey FROM batch)
"""

ORACLES["sync_pipeline_o2m"] = f"""
WITH keys AS (
  SELECT DISTINCT user_id AS k FROM events
  WHERE event_id > {P.WATERMARK_EVENT_ID}
    AND user_id % 3 = 1 AND nullif(user_id, 0) IS NOT NULL
),
batch AS (
  SELECT l_orderkey, l_linenumber, {_dec("l_quantity", 2)} AS l_quantity
  FROM lineitem WHERE l_orderkey IN (SELECT k FROM keys)
),
tgt AS (
  SELECT l_orderkey, l_linenumber, {_dec("l_quantity", 2)} AS l_quantity
  FROM lineitem WHERE l_orderkey % 2 = 1
)
SELECT * FROM batch
UNION ALL
SELECT t.* FROM tgt t
WHERE t.l_orderkey NOT IN (SELECT DISTINCT l_orderkey FROM batch)
"""

# fixture layout is one physical file per table, so the expected
# provenance is a literal; the count checks the rows really came from
# that scan
ORACLES["scan_file_provenance"] = """
SELECT 'lineitem.parquet' AS file_name, count(*) AS n_rows FROM lineitem
"""

ORACLES["sync_metrics"] = f"""
WITH cl AS (
  SELECT event_id AS log_id,
         nullif(user_id, 0) AS rsbsa_no,
         CASE WHEN user_id % 3 = 0 THEN 'customer'
              WHEN user_id % 3 = 1 THEN 'lineitem' END AS tbl
  FROM events WHERE event_id > {P.WATERMARK_EVENT_ID}
),
agg AS (
  SELECT coalesce(tbl, '(invalid)') AS table_name,
         count(*) AS n_changes,
         count(DISTINCT CASE WHEN rsbsa_no IS NOT NULL AND tbl IS NOT NULL
                             THEN rsbsa_no END) AS n_keys,
         CAST(sum(CASE WHEN rsbsa_no IS NULL OR tbl IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_invalid
  FROM cl GROUP BY 1
)
SELECT table_name, n_changes, n_keys, n_invalid,
       {_dec("n_invalid * 100.0 / n_changes", 2)} AS error_rate_pct,
       least(100, CAST(floor(n_keys * 100.0 / n_changes + 0.5) AS INTEGER))
         AS progress_pct
FROM agg
"""

ORACLES["string_upper_multi"] = """
SELECT c_custkey, upper(c_name) AS c_name, upper(c_mktsegment) AS c_mktsegment
FROM customer
"""

ORACLES["string_concat_split"] = """
SELECT event_id,
       event_type || ':' || CAST(user_id AS VARCHAR) AS composite_key,
       split_part(event_type || ':' || CAST(user_id AS VARCHAR), ':', 2) AS key_part
FROM events
"""

ORACLES["cond_coalesce"] = """
SELECT event_id,
       coalesce(nullif(event_type, 'error'), 'unknown') AS type_nz,
       CASE WHEN value > 50.0 THEN 'high' ELSE 'low' END AS band
FROM events
"""

ORACLES["ts_format_tz"] = """
SELECT event_id,
       strftime(ts + INTERVAL 8 HOUR, '%Y-%m-%dT%H:%M:%S') AS ts_manila
FROM events
"""

ORACLES["math_duration"] = """
WITH s AS (
  SELECT user_id, epoch_ms(max(ts)) - epoch_ms(min(ts)) AS duration_ms
  FROM events GROUP BY user_id
)
SELECT user_id, duration_ms,
       printf('%dh %dm %ds',
              duration_ms // 3600000,
              (duration_ms % 3600000) // 60000,
              (duration_ms % 60000) // 1000) AS duration_hms
FROM s
"""

ORACLES["text_parse_log"] = r"""
WITH lines AS (
  SELECT CASE
           WHEN event_id % 101 = 0 THEN ''
           WHEN event_id % 50 = 0 THEN event_type
           ELSE '[' || strftime(ts, '%Y-%m-%d %H:%M:%S') || '] ' || event_type
         END AS line
  FROM events
)
SELECT coalesce(nullif(regexp_extract(line, '^\[([^\]]*)\]', 1), ''), '__missing__')
         AS ts_raw,
       trim(regexp_replace(line, '^\[([^\]]*)\]', '')) AS message
FROM lines WHERE length(trim(line)) > 0
"""

# stream_tail drives the REAL Structured Streaming engine (text file
# source → parse → AvailableNow → memory sink), but its input is
# rendered deterministically from the events fixture — every line is
# a well-formed "[ts] event_type" — so the engine's final output is
# value-checkable with plain SQL over the same fixture. This upgrades
# the key from rows-only to a full value check (round-4 verdict #3).
ORACLES["stream_tail"] = """
SELECT strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_raw,
       event_type AS message
FROM events
"""

ORACLES["json_roundtrip"] = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
       -- k_parsed mirrors Spark's from_json('k BIGINT') STRICT
       -- semantics, not the fixture: from_json yields NULL when the
       -- JSON value is a string or non-integer number, so the oracle
       -- gates the extraction on json_type being a JSON integer
       -- (BIGINT/UBIGINT) instead of extract_string+CAST coercion —
       -- the two only coincided because gen_sf emits integer k, and
       -- a props-format change would have silently redded the key
       -- (r14 advice item 4). k_val intentionally KEEPS the coercing
       -- string-extract form: it mirrors get_json_object+CAST, whose
       -- lax semantics are the point of that entry.
       CASE WHEN json_type(props, '$.k') IN ('BIGINT', 'UBIGINT')
            THEN CAST(json_extract(props, '$.k') AS BIGINT)
       END AS k_parsed,
       CAST(to_json({'event_id': event_id, 'event_type': event_type}) AS VARCHAR) AS j
FROM events
"""

ORACLES["window_moving_avg"] = f"""
SELECT event_id, user_id,
       {_dec("avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id"
             " ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)", 6)} AS moving_avg,
       {_dec("value - coalesce(lag(value) OVER (PARTITION BY user_id"
             " ORDER BY ts, event_id), value)", 6)} AS delta_prev
FROM events
"""

ORACLES["window_time_range"] = f"""
SELECT event_id, user_id,
       CAST(count(*) OVER w AS BIGINT) AS n_1h,
       {_dec("CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) OVER w"
             " AS DOUBLE) / 100.0", 2)} AS sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""

ORACLES["agg_rollup"] = f"""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       {sql_sum_fixed("l_quantity", 2)} AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
"""

ORACLES["agg_cube"] = f"""
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       {sql_sum_fixed("l_quantity", 2)} AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
"""

def _pivot_cell(status: str) -> str:
    s = sql_sum_fixed(
        f"CASE WHEN o_orderstatus = '{status}' THEN o_totalprice END", 2
    )
    return _dec(f"coalesce({s}, 0.0)", 2) + f" AS total_{status.lower()}"


ORACLES["agg_pivot"] = f"""
SELECT o_orderpriority,
       {_pivot_cell("F")},
       {_pivot_cell("O")},
       {_pivot_cell("P")}
FROM orders GROUP BY o_orderpriority
"""

ORACLES["agg_unpivot"] = f"""
WITH k AS (
  SELECT l_orderkey, l_linenumber,
         {_dec("l_quantity", 2)} AS quantity,
         {_dec("l_extendedprice", 2)} AS extendedprice,
         {_dec("l_discount", 2)} AS discount,
         {_dec("l_tax", 2)} AS tax
  FROM lineitem WHERE l_orderkey IN ({sql_in_list(P.ORDER_KEYS)})
)
SELECT l_orderkey, l_linenumber, 'quantity' AS metric, quantity AS val FROM k
UNION ALL
SELECT l_orderkey, l_linenumber, 'extendedprice', extendedprice FROM k
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount', discount FROM k
UNION ALL
SELECT l_orderkey, l_linenumber, 'tax', tax FROM k
"""

ORACLES["agg_percentiles"] = f"""
SELECT l_returnflag,
       {_dec("quantile_cont(l_quantity, 0.25)", 6)} AS p25,
       {_dec("quantile_cont(l_quantity, 0.50)", 6)} AS p50,
       {_dec("quantile_cont(l_quantity, 0.75)", 6)} AS p75
FROM lineitem GROUP BY l_returnflag
"""

ORACLES["json_map_extract"] = """
SELECT event_id, k AS prop_key,
       CAST(json_extract(props, '$."' || k || '"') AS BIGINT) AS prop_val
FROM (SELECT event_id, props, unnest(json_keys(props)) AS k FROM events)
"""

ORACLES["fuzzy_match"] = """
SELECT a.c_custkey AS custkey_a, b.c_custkey AS custkey_b,
       CAST(levenshtein(a.c_name, b.c_name) AS INT) AS edit_distance
FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
WHERE levenshtein(a.c_name, b.c_name) <= 1
"""

ORACLES["distinct_sketch"] = f"""
WITH hashed AS (
  SELECT DISTINCT o_orderpriority AS grp,
         {_hexpoly("md5(CAST(o_custkey AS VARCHAR))", 1)} AS h
  FROM orders
),
ranked AS (
  SELECT grp, h,
         row_number() OVER (PARTITION BY grp ORDER BY h) AS rn,
         count(*) OVER (PARTITION BY grp) AS n
  FROM hashed
)
SELECT grp AS o_orderpriority, CAST(n AS BIGINT) AS n_hashed,
       {_dec("CASE WHEN n < 1024 THEN CAST(n AS DOUBLE)"
             " ELSE 1023.0 * 4294967296.0 / h END", 4)} AS est_distinct
FROM ranked WHERE rn = least(n, 1024)
"""

ORACLES["embedding_centroids"] = f"""
SELECT label, i - 1 AS dim,
       {_dec("(CAST(sum(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0 + 0.5))"
             " AS DOUBLE) / 1000000.0) / count(*)", 6)} AS centroid
FROM embeddings, range(1, 65) t(i)
GROUP BY label, i
"""

ORACLES["window_tumbling"] = f"""
SELECT epoch_ms(time_bucket(INTERVAL 1 HOUR, ts)) // 1000 AS window_start,
       event_type,
       count(*) AS n_events,
       {sql_sum_fixed("value", 2)} AS total_value
FROM events GROUP BY 1, 2
"""

ORACLES["window_sliding"] = """
WITH starts AS (
  SELECT event_type, unnest([time_bucket(INTERVAL 30 MINUTE, ts),
                             time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE])
           AS window_start
  FROM events
)
SELECT epoch_ms(window_start) // 1000 AS window_start, event_type,
       count(*) AS n_events
FROM starts GROUP BY 1, 2
"""

ORACLES["window_session"] = f"""
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_ms(ts) // 1000 - epoch_ms(lag(ts) OVER w) // 1000
                   > {P.SESSION_GAP_S}
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, ts,
         CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM g
)
SELECT user_id, session_seq,
       min(epoch_ms(ts) // 1000) AS session_start,
       max(epoch_ms(ts) // 1000) AS session_end,
       count(*) AS n_events
FROM s GROUP BY 1, 2
"""

# the chunked (hot-key dial) form is CONTRACTUALLY bit-identical to
# the flat sessionize, so it shares the oracle verbatim — the
# strongest possible equivalence check for a plan-shape rewrite
ORACLES["window_session_chunked"] = ORACLES["window_session"]

# Streaming semantics as SQL (see streaming/windows.py and
# streaming/stateful.py for why these are deterministic): all window
# math in integer microseconds, matching Spark's UTC-aligned
# F.window and microsecond timestamps.
_HOUR_US = 3_600_000_000
_WM_US = P.STREAM_WM_DELAY_HOURS * _HOUR_US
_ONTIME = (
    f"ts <= TIMESTAMP '{P.STREAM_SPLIT_TS}'"
    f" AND event_id % {P.STREAM_STRAGGLER_MOD} <> 0"
)

ORACLES["stream_late_drop"] = f"""
WITH f1 AS (
  SELECT epoch_us(ts) AS us, event_type FROM events WHERE {_ONTIME}
),
f2 AS (
  SELECT epoch_us(ts) AS us, event_type FROM events WHERE NOT ({_ONTIME})
),
w1 AS (SELECT max(us) - {_WM_US} AS wm FROM f1),
w2 AS (SELECT max(epoch_us(ts)) - {_WM_US} AS wm FROM events),
contrib AS (
  SELECT us, event_type FROM f1
  UNION ALL
  SELECT us, event_type FROM f2
  WHERE (us - us % {_HOUR_US} + {_HOUR_US}) > (SELECT wm FROM w1)
)
SELECT (us - us % {_HOUR_US}) // 1000000 AS window_start,
       event_type,
       count(*) AS n_events
FROM contrib
WHERE (us - us % {_HOUR_US} + {_HOUR_US}) <= (SELECT wm FROM w2)
GROUP BY 1, 2
"""

ORACLES["stream_stateful_totals"] = f"""
SELECT user_id,
       count(*) AS n_events,
       {sql_sum_fixed("value", 2)} AS total_value
FROM events GROUP BY user_id
"""

ORACLES["dedup_exact"] = f"""
SELECT md5({NORM}) AS fingerprint,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents GROUP BY 1
"""

ORACLES["dedup_minhash"] = _minhash_sql()

_EST_AGREE = " + ".join(
    f"(CASE WHEN sa.m{p} = sb.m{p} THEN 1 ELSE 0 END)"
    for p in range(P.MINHASH_PERMS)
)
ORACLES["dedup_minhash_est"] = f"""
WITH pairs AS (
  SELECT * FROM ({_minhash_sql()}) t
),
{SHINGLES_CTE},
hs AS (SELECT doc_id, md5(unnest(shingles)) AS h FROM sh),
chunks AS (SELECT doc_id, {_hexpoly("h", 1)} AS h1, {_hexpoly("h", 9)} AS h2 FROM hs),
sig AS (SELECT doc_id, {", ".join(
    f"min((h1 * {a} + h2 * {b} + {c}) % {P.MINHASH_MOD}) AS m{p}"
    for p, (a, b, c) in enumerate(P.MINHASH_COEFFS)
)} FROM chunks GROUP BY doc_id)
SELECT doc_a, doc_b,
       {_dec(f"({_EST_AGREE}) / {float(P.MINHASH_PERMS)}", 4)} AS jaccard_est
FROM pairs
JOIN sig sa ON sa.doc_id = doc_a
JOIN sig sb ON sb.doc_id = doc_b
"""

ORACLES["dedup_minhash_capped"] = _minhash_sql(cap=P.MINHASH_BUCKET_CAP)

ORACLES["dedup_simhash"] = _simhash_sql()

ORACLES["dedup_ngram_jaccard"] = f"""
WITH {SHINGLES_CTE},
exploded AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
  FROM exploded a JOIN exploded b
    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       {_dec("n_inter / (sa.sz + sb.sz - n_inter)", 4)} AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_inter / (sa.sz + sb.sz - n_inter) >= {P.JACCARD_THRESHOLD}
"""

# capped-LSH-prefiltered Jaccard (r14): the SAME deterministic capped
# MinHash band candidates as dedup_minhash_capped, then the exact
# |A∩B|/|A∪B| verify restricted to those pairs — the Jaccard sibling
# of dedup_containment_capped.
ORACLES["dedup_jaccard_capped"] = f"""
WITH cand AS (SELECT doc_a, doc_b FROM ({_minhash_sql(cap=P.MINHASH_BUCKET_CAP)}) t),
{SHINGLES_CTE},
sr AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS sz FROM sr GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
  FROM cand c
  JOIN sr a ON a.doc_id = c.doc_a
  JOIN sr b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
)
SELECT doc_a, doc_b,
       {_dec("n_inter / (sa.sz + sb.sz - n_inter)", 4)} AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE n_inter / (sa.sz + sb.sz - n_inter) >= {P.JACCARD_THRESHOLD}
"""

# the Jaccard AUTO-DIAL (r14): the symmetric V statistic — both join
# sides take prefixes under the Jaccard bound, so the pre-prune
# cardinality is pairs WITHIN each prefix posting list,
# Σ_s C(p_s, 2), carried doubled (Σ p·(p−1)) so the comparison stays
# in BIGINT — then CASE between the two arm SQLs verbatim. The
# ranked/prefix CTE mirrors _rank_by_rarity/_prefix_cond at the
# Jaccard threshold exactly, so the dial decision is value-checked.
ORACLES["dedup_jaccard_auto"] = f"""
WITH {SHINGLES_CTE},
sr AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
dfr AS (SELECT shingle, count(*) AS df FROM sr GROUP BY shingle),
ranked AS (
  SELECT s.doc_id, s.shingle,
         row_number() OVER (PARTITION BY s.doc_id
                            ORDER BY d.df ASC, s.shingle ASC) AS pos,
         count(*) OVER (PARTITION BY s.doc_id) AS sz
  FROM sr s JOIN dfr d USING (shingle)
),
pc AS (
  SELECT shingle, count(*) AS p FROM ranked
  WHERE pos <= sz - ceil({P.JACCARD_THRESHOLD} * sz - 1e-9) + 1
  GROUP BY shingle
),
stat AS (
  SELECT COALESCE(SUM(p * (p - 1)), 0)
         <= 2 * {P.JACCARD_AUTO_MAX_PAIRS_PER_DOC}
              * (SELECT count(*) FROM documents) AS take_exact
  FROM pc
)
SELECT * FROM ({{exact}}) e WHERE (SELECT take_exact FROM stat)
UNION ALL
SELECT * FROM ({{capped}}) c WHERE NOT (SELECT take_exact FROM stat)
""".format(
    exact=ORACLES["dedup_ngram_jaccard"],
    capped=ORACLES["dedup_jaccard_capped"],
)

ORACLES["dedup_incremental"] = f"""
WITH {SHINGLES_CTE},
exploded AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
inter AS (
  SELECT a.doc_id AS new_doc_id, b.doc_id AS corpus_doc_id,
         count(*) AS n_inter
  FROM exploded a JOIN exploded b ON a.shingle = b.shingle
  WHERE a.doc_id % 10 >= 8 AND b.doc_id % 10 < 8
  GROUP BY 1, 2
)
SELECT new_doc_id, corpus_doc_id,
       {_dec("n_inter / (sa.sz + sb.sz - n_inter)", 4)} AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = new_doc_id
JOIN sizes sb ON sb.doc_id = corpus_doc_id
WHERE n_inter / (sa.sz + sb.sz - n_inter) >= {P.JACCARD_THRESHOLD}
"""

ORACLES["decontam_fuzzy"] = f"""
WITH {SHINGLES_CTE},
exploded AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
sizes AS (SELECT doc_id, len(shingles) AS sz FROM sh),
inter AS (
  SELECT a.doc_id AS eval_doc_id, b.doc_id AS train_doc_id,
         count(*) AS n_inter
  FROM exploded a JOIN exploded b ON a.shingle = b.shingle
  WHERE a.doc_id < {P.EVAL_DOC_MAX} AND b.doc_id >= {P.EVAL_DOC_MAX}
  GROUP BY 1, 2
)
SELECT eval_doc_id, train_doc_id,
       {_dec("n_inter / sa.sz", 4)} AS containment
FROM inter
JOIN sizes sa ON sa.doc_id = eval_doc_id
WHERE n_inter / sa.sz >= {P.DECONTAM_FUZZY_THRESHOLD}
"""

ORACLES["knn_graph"] = f"""
WITH {_EMB_CTE.strip()},
scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         {_dec(f"{_DOT} / (a.nrm * b.nrm)", 4)} AS cosine
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
  WHERE a.nrm > 0 AND b.nrm > 0
),
ranked AS (
  SELECT vec_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT vec_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {P.ANN_TOP_K}
"""

# knn_graph_ivf: the approximate graph is deterministic end to end
# (first-√n centroids, (d2, cid) tie-break, 1e-4-quantized cosine),
# so the ORACLE replays the same coarse quantization generically —
# one corpus×centroid distance table feeds both the rn=1 cell
# assignment and the rn<=nprobe probe list, exactly like the Spark
# plan's single distance pass.
ORACLES["knn_graph_ivf"] = f"""
WITH {_EMB_CTE.strip()},
nc AS (
  SELECT greatest(16, CAST(floor(sqrt(CAST(count(*) AS DOUBLE)))
                       AS BIGINT)) AS ncents
  FROM n
),
cents AS (
  SELECT vec_id AS cid, v AS vc FROM n, nc WHERE vec_id < nc.ncents
),
dists AS (
  SELECT a.vec_id AS nid, c.cid,
         list_sum(list_transform(range(1, 65),
                  i -> (a.v[i] - c.vc[i]) * (a.v[i] - c.vc[i]))) AS d2,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY list_sum(list_transform(range(1, 65),
                                     i -> (a.v[i] - c.vc[i]) * (a.v[i] - c.vc[i]))) ASC,
                                     c.cid ASC) AS rn
  FROM n a, cents c
),
cells  AS (SELECT nid, cid FROM dists WHERE rn = 1),
probes AS (SELECT nid, cid FROM dists WHERE rn <= {P.IVF_NPROBE}),
scored AS (
  SELECT p.nid AS vec_id, m.nid AS neighbor_id,
         {_dec(f"{_DOT} / (a.nrm * b.nrm)", 4)} AS cosine
  FROM probes p
  JOIN cells m ON m.cid = p.cid
  JOIN n a ON a.vec_id = p.nid
  JOIN n b ON b.vec_id = m.nid
  WHERE p.nid <> m.nid AND a.nrm > 0 AND b.nrm > 0
),
ranked AS (
  SELECT vec_id, neighbor_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT vec_id, neighbor_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {P.ANN_TOP_K}
"""

# the kNN-graph AUTO-DIAL (r14): one corpus count picks the exact
# arm at/under the measured crossover budget, the IVF arm above it;
# the pick statistic is the table cardinality, so the CASE below is
# the dial decision replicated bit-exactly, and the picked arm's SQL
# runs verbatim (both arms emit the identical column set).
ORACLES["knn_graph_auto"] = f"""
SELECT * FROM ({ORACLES["knn_graph"]}) e
WHERE (SELECT count(*) FROM embeddings)
      <= {P.KNN_GRAPH_AUTO_MAX_VECTORS}
UNION ALL
SELECT * FROM ({ORACLES["knn_graph_ivf"]}) a
WHERE (SELECT count(*) FROM embeddings)
      > {P.KNN_GRAPH_AUTO_MAX_VECTORS}
"""

# r15 geometry profile: the recall-curve pick as an oracle-checked
# one-row statistic. The EVT null sqrt(2·ln(128)/64) is computed once
# HERE in Python and embedded as the same literal the engine embeds —
# libm last-bit differences between engines never enter the compare;
# per-row cosines quantize to 1e-6 BIGINTs before the exact sum
# (order-independent), and the mean is the identical two-division
# sequence in both engines.
_GEO_PROBES = 128
_GEO_NULL = __import__("math").floor(
    __import__("math").sqrt(
        2.0 * __import__("math").log(_GEO_PROBES) / 64.0
    ) * 1e6 + 0.5
) / 1e6
_GEO_D2 = (
    "list_sum(list_transform(range(1, 65),"
    " i -> (a.v[i] - c.vc[i]) * (a.v[i] - c.vc[i])))"
)
_GEO_DOT = "list_sum(list_transform(range(1, 65), i -> a.v[i] * c.vc[i]))"
ORACLES["ann_geometry"] = f"""
WITH {_EMB_CTE.strip()},
cents AS (SELECT vec_id AS cid, v AS vc, nrm AS nc FROM n
          WHERE vec_id < {_GEO_PROBES}),
d AS (
  SELECT a.vec_id AS vid, c.cid, {_GEO_D2} AS d2,
         CAST(floor({_GEO_DOT} / (a.nrm * c.nc) * 1000000.0 + 0.5)
              AS BIGINT) AS cq
  FROM n a, cents c
  WHERE a.vec_id >= {_GEO_PROBES}
),
assigned AS (
  SELECT cq FROM (
    SELECT cq, row_number() OVER (PARTITION BY vid
                                  ORDER BY d2 ASC, cid ASC) AS rn
    FROM d) WHERE rn = 1
),
agg AS (
  SELECT floor((CAST(sum(cq) AS DOUBLE) / CAST(count(*) AS DOUBLE))
               / 1000000.0 * 1000000.0 + 0.5) / 1000000.0 AS mean_cos
  FROM assigned
)
SELECT CAST((SELECT count(*) FROM embeddings) AS BIGINT) AS n_vectors,
       CAST({_GEO_PROBES} AS INT) AS n_probes,
       mean_cos AS mean_cos_assigned,
       CAST({_GEO_NULL!r} AS DOUBLE) AS evt_null,
       CASE WHEN mean_cos >= {_GEO_NULL!r} THEN 'clustered'
            ELSE 'isotropic' END AS geometry
FROM agg
"""

# hard negatives over the IVF graph: the knn_graph_ivf coarse
# quantization verbatim, with the different-label mask added to the
# scored CTE (the graph_triangles_ivf composition pattern — the dial
# changes the CANDIDATE set, never the label semantics)
ORACLES["hard_negatives_ivf"] = f"""
WITH {_EMB_CTE.strip()},
lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
nc AS (
  SELECT greatest(16, CAST(floor(sqrt(CAST(count(*) AS DOUBLE)))
                       AS BIGINT)) AS ncents
  FROM n
),
cents AS (
  SELECT vec_id AS cid, v AS vc FROM n, nc WHERE vec_id < nc.ncents
),
dists AS (
  SELECT a.vec_id AS nid, c.cid,
         row_number() OVER (PARTITION BY a.vec_id
                            ORDER BY list_sum(list_transform(range(1, 65),
                                     i -> (a.v[i] - c.vc[i]) * (a.v[i] - c.vc[i]))) ASC,
                                     c.cid ASC) AS rn
  FROM n a, cents c
),
cells  AS (SELECT nid, cid FROM dists WHERE rn = 1),
probes AS (SELECT nid, cid FROM dists WHERE rn <= {P.IVF_NPROBE}),
scored AS (
  SELECT p.nid AS vec_id, la.label AS label,
         m.nid AS neighbor_id, lb.label AS neighbor_label,
         {_dec(f"{_DOT} / (a.nrm * b.nrm)", 4)} AS cosine
  FROM probes p
  JOIN cells m ON m.cid = p.cid
  JOIN n a ON a.vec_id = p.nid
  JOIN n b ON b.vec_id = m.nid
  JOIN lab la ON la.vec_id = p.nid
  JOIN lab lb ON lb.vec_id = m.nid
  WHERE p.nid <> m.nid AND la.label <> lb.label
        AND a.nrm > 0 AND b.nrm > 0
),
ranked AS (
  SELECT vec_id, neighbor_id, label, neighbor_label, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT vec_id, neighbor_id, label, neighbor_label, cosine,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {P.ANN_TOP_K}
"""

ORACLES["embedding_outliers"] = f"""
WITH {_EMB_CTE.strip()},
scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         {_dec(f"{_DOT} / (a.nrm * b.nrm)", 4)} AS cosine
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
  WHERE a.nrm > 0 AND b.nrm > 0
),
ranked AS (
  SELECT vec_id, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
),
si AS (
  SELECT vec_id,
         CAST(sum(CAST(floor(cosine * 1e4 + 0.5) AS BIGINT)) AS BIGINT) AS s,
         count(*) AS nk
  FROM ranked WHERE rank <= {P.ANN_TOP_K} GROUP BY vec_id
),
tot AS (
  SELECT CAST(sum(s) AS BIGINT) AS total_s, count(*) AS n_vecs FROM si
)
SELECT vec_id,
       {_dec("s / (nk * 1e4)", 4)} AS mean_knn_cosine,
       100 * s * n_vecs < {P.OUTLIER_PCT_OF_MEAN} * total_s AS is_outlier
FROM si, tot
"""

ORACLES["hard_negatives"] = f"""
WITH {_EMB_CTE.strip()},
lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label FROM embeddings),
scored AS (
  SELECT a.vec_id AS vec_id, la.label AS label,
         b.vec_id AS neighbor_id, lb.label AS neighbor_label,
         {_dec(f"{_DOT} / (a.nrm * b.nrm)", 4)} AS cosine
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
  JOIN lab la ON la.vec_id = a.vec_id
  JOIN lab lb ON lb.vec_id = b.vec_id
  WHERE la.label <> lb.label AND a.nrm > 0 AND b.nrm > 0
),
ranked AS (
  SELECT vec_id, neighbor_id, label, neighbor_label, cosine,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
)
SELECT vec_id, neighbor_id, label, neighbor_label, cosine,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= {P.ANN_TOP_K}
"""

ORACLES["graph_triangles"] = f"""
WITH {_EMB_CTE.strip()},
scored AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS neighbor_id,
         {_dec(f"{_DOT} / (a.nrm * b.nrm)", 4)} AS cosine
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
  WHERE a.nrm > 0 AND b.nrm > 0
),
ranked AS (
  SELECT vec_id, neighbor_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
),
edges AS (
  SELECT DISTINCT least(vec_id, neighbor_id) AS u,
                  greatest(vec_id, neighbor_id) AS v
  FROM ranked WHERE rank <= {P.ANN_TOP_K}
),
wedge AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1 JOIN edges e2 ON e2.u = e1.v
),
tri AS (
  SELECT a, b, c FROM wedge
  JOIN edges e3 ON e3.u = wedge.a AND e3.v = wedge.c
),
tcnt AS (
  SELECT vec_id, count(*) AS t
  FROM (SELECT unnest([a, b, c]) AS vec_id FROM tri) GROUP BY vec_id
),
deg AS (
  SELECT vec_id, count(*) AS d
  FROM (SELECT unnest([u, v]) AS vec_id FROM edges) GROUP BY vec_id
)
SELECT deg.vec_id AS vec_id, CAST(d AS BIGINT) AS degree,
       CAST(coalesce(t, 0) AS BIGINT) AS tri_count,
       CASE WHEN d >= 2
            THEN {_dec("2.0 * coalesce(t, 0) / (d * (d - 1))", 4)}
            ELSE CAST(0.0 AS DOUBLE) END AS clustering
FROM deg LEFT JOIN tcnt ON tcnt.vec_id = deg.vec_id
"""

# triangles over the IVF graph: the knn_graph_ivf oracle nests as a
# derived table (the prf_expand pattern) and the wedge/close SQL is
# the graph_triangles tail verbatim — the dial changes the GRAPH,
# never the triangle semantics
ORACLES["graph_triangles_ivf"] = f"""
WITH g AS (SELECT * FROM ({ORACLES["knn_graph_ivf"]}) t),
edges AS (
  SELECT DISTINCT least(vec_id, neighbor_id) AS u,
                  greatest(vec_id, neighbor_id) AS v
  FROM g
),
wedge AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM edges e1 JOIN edges e2 ON e2.u = e1.v
),
tri AS (
  SELECT a, b, c FROM wedge
  JOIN edges e3 ON e3.u = wedge.a AND e3.v = wedge.c
),
tcnt AS (
  SELECT vec_id, count(*) AS t
  FROM (SELECT unnest([a, b, c]) AS vec_id FROM tri) GROUP BY vec_id
),
deg AS (
  SELECT vec_id, count(*) AS d
  FROM (SELECT unnest([u, v]) AS vec_id FROM edges) GROUP BY vec_id
)
SELECT deg.vec_id AS vec_id, CAST(d AS BIGINT) AS degree,
       CAST(coalesce(t, 0) AS BIGINT) AS tri_count,
       CASE WHEN d >= 2
            THEN {_dec("2.0 * coalesce(t, 0) / (d * (d - 1))", 4)}
            ELSE CAST(0.0 AS DOUBLE) END AS clustering
FROM deg LEFT JOIN tcnt ON tcnt.vec_id = deg.vec_id
"""

ORACLES["rfm_segments"] = f"""
WITH o AS (
  SELECT o_custkey AS custkey,
         (epoch_ms(o_orderdate) // 1000) // 86400 AS d,
         CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5) AS BIGINT)
           AS cents
  FROM orders
),
cust AS (
  SELECT custkey, max(d) AS last_day, count(*) AS frequency,
         CAST(sum(cents) AS BIGINT) AS cents
  FROM o GROUP BY custkey
),
ref AS (SELECT max(last_day) AS ref_day FROM cust),
c2 AS (
  SELECT custkey, ref_day - last_day AS recency_days, frequency, cents
  FROM cust, ref
),
b AS (
  SELECT quantile_disc(recency_days, 0.25) AS rq1,
         quantile_disc(recency_days, 0.5)  AS rq2,
         quantile_disc(recency_days, 0.75) AS rq3,
         quantile_disc(frequency, 0.25) AS fq1,
         quantile_disc(frequency, 0.5)  AS fq2,
         quantile_disc(frequency, 0.75) AS fq3,
         quantile_disc(cents, 0.25) AS cq1,
         quantile_disc(cents, 0.5)  AS cq2,
         quantile_disc(cents, 0.75) AS cq3
  FROM c2
),
s AS (
  SELECT custkey, recency_days, frequency, cents,
         1 + CAST(recency_days < rq3 AS INT)
           + CAST(recency_days < rq2 AS INT)
           + CAST(recency_days < rq1 AS INT) AS r_score,
         1 + CAST(frequency > fq1 AS INT)
           + CAST(frequency > fq2 AS INT)
           + CAST(frequency > fq3 AS INT) AS f_score,
         1 + CAST(cents > cq1 AS INT)
           + CAST(cents > cq2 AS INT)
           + CAST(cents > cq3 AS INT) AS m_score
  FROM c2, b
)
SELECT custkey, recency_days, frequency,
       {_dec("cents / 100.0", 2)} AS monetary,
       r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR)
         || CAST(m_score AS VARCHAR) AS segment
FROM s
"""

ORACLES["ts_autocorr"] = f"""
WITH bins AS (
  SELECT (epoch_ms(ts) // 1000) // 86400 AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY day
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days, CAST(sum(x) AS BIGINT) AS s
  FROM bins
),
fr AS (
  SELECT day, n_days * x - s AS f FROM bins, stats
),
den AS (SELECT CAST(sum(f * f) AS BIGINT) AS den FROM fr),
probes AS (
  SELECT day, f AS fa, unnest(range(1, {P.ACF_MAX_LAG + 1})) AS lag FROM fr
),
per_lag AS (
  SELECT p.lag,
         CAST(sum(p.fa * b.f) AS BIGINT) AS num,
         CAST(count(*) AS BIGINT) AS m
  FROM probes p JOIN fr b ON b.day = p.day + p.lag
  GROUP BY p.lag
)
SELECT CAST(lag AS INT) AS lag, m AS n_pairs,
       {_dec("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)", 6)} AS acf
FROM per_lag, den
"""

ORACLES["feature_hashing"] = f"""
WITH tok AS (SELECT doc_id, unnest({TOKS}) AS tok FROM documents),
sparse AS (
  SELECT doc_id,
         CAST({_hexpoly("md5(tok)", 1)} % {P.FEATURE_HASH_DIM} AS INT)
           AS slot,
         CAST(count(*) AS BIGINT) AS n
  FROM tok GROUP BY doc_id, slot
),
m AS (
  SELECT doc_id,
         map_from_entries(list(struct_pack(k := slot, v := n))) AS mp,
         CAST(sum(n) AS BIGINT) AS n_tokens
  FROM sparse GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       {", ".join(
           f"CAST(coalesce(list_extract(map_extract(mp, CAST({s} AS INT)), 1),"
           f" 0) AS BIGINT) AS v{s}"
           for s in range(P.FEATURE_HASH_DIM)
       )}
FROM m
"""

ORACLES["quantile_bucketize"] = f"""
WITH base AS (
  SELECT l_orderkey, l_linenumber,
         CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100 + 0.5) AS BIGINT)
           AS cents
  FROM lineitem
),
b AS (
  SELECT {", ".join(
      f"quantile_disc(cents, {i / P.QUANTILE_BUCKETS}) AS q{i}"
      for i in range(1, P.QUANTILE_BUCKETS)
  )}
  FROM base
)
SELECT l_orderkey, l_linenumber,
       {_dec("cents / 100.0", 2)} AS price,
       CAST(1 {" ".join(
           f"+ CAST(cents > q{i} AS INT)"
           for i in range(1, P.QUANTILE_BUCKETS)
       )} AS INT) AS bucket
FROM base, b
"""

ORACLES["window_rolling_median"] = f"""
WITH bins AS (
  SELECT event_type, (epoch_ms(ts) // 1000) // 86400 AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, day
),
framed AS (
  SELECT event_type, day, n,
         list(n) OVER (PARTITION BY event_type ORDER BY day
                       RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS frame,
         count(*) OVER (PARTITION BY event_type ORDER BY day
                        RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS frame_n
  FROM bins
)
SELECT event_type, day, n,
       CAST(list_sort(frame)[4] AS BIGINT) AS med7
FROM framed WHERE frame_n = 7
"""

ORACLES["state_durations"] = f"""
WITH iv AS (
  SELECT user_id,
         CASE WHEN value > 50.0 THEN 'high' ELSE 'low' END AS state,
         epoch_us(ts) AS t0,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS t1
  FROM events
)
SELECT user_id, state,
       CAST(sum(t1 - t0) AS BIGINT) AS total_us,
       CAST(count(*) AS BIGINT) AS n_intervals
FROM iv WHERE t1 IS NOT NULL
GROUP BY user_id, state
"""

ORACLES["stream_cdc_apply"] = f"""
WITH r AS (
  SELECT user_id, value, epoch_us(ts) AS ts_us,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM events
)
SELECT user_id, CAST(n AS BIGINT) AS n_updates,
       CAST(ts_us AS BIGINT) AS last_ts_us,
       {_dec("value", 4)} AS last_value
FROM r WHERE rn = 1
"""

ORACLES["k_anonymity"] = f"""
SELECT lang, source,
       (n_chars // {P.K_ANON_CHARS_BUCKET}) * {P.K_ANON_CHARS_BUCKET}
         AS chars_bucket,
       CAST(count(*) AS BIGINT) AS n,
       count(*) < {P.K_ANON} AS at_risk
FROM documents
GROUP BY lang, source, chars_bucket
"""

ORACLES["dedup_embedding"] = f"""
WITH {_EMB_CTE.strip()},
p AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {_dec(f"{_DOT} / (a.nrm * b.nrm)", 4)} AS cosine
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM p WHERE cosine >= {P.COSINE_THRESHOLD}
"""

# embedding-dedup auto-dial (r15): the statistic is ONE corpus count
# (the arms' laws are n²/tiles vs linear — corpus size IS the cost
# driver), so the SQL replicates the pick exactly, then emits the
# picked arm's rows in the shared duplicate-pair contract. The
# semantic arm's pairs are the member→exemplar prune edges
# (NOT keep ⇒ member ≠ exemplar AND cos ≥ threshold by definition of
# the keep flag). Defined after dedup_semantic below via .format().
_DEDUP_EMB_AUTO_TEMPLATE = """
SELECT vec_a, vec_b, cosine FROM ({exact}) e
WHERE (SELECT count(*) FROM embeddings)
      <= {budget}
UNION ALL
SELECT least(vec_id, exemplar_id) AS vec_a,
       greatest(vec_id, exemplar_id) AS vec_b,
       cos_exemplar AS cosine
FROM ({semantic}) s
WHERE NOT keep
  AND (SELECT count(*) FROM embeddings) > {budget}
"""

_SEM_D2 = (
    "list_sum(list_transform(range(1, 65),"
    " i -> (a.v[i] - c.vc[i]) * (a.v[i] - c.vc[i])))"
)
_SEM_COS_C = "list_sum(list_transform(range(1, 65), i -> a.v[i] * c.vc[i]))"

ORACLES["decontam_embedding"] = f"""
WITH {_EMB_CTE.strip()},
s AS (
  SELECT a.vec_id AS doc_id,
         {_dec(f"{_DOT} / (a.nrm * b.nrm)", 4)} AS cos
  FROM n a JOIN n b ON b.vec_id < {P.EVAL_DOC_MAX}
  WHERE a.vec_id >= {P.EVAL_DOC_MAX}
)
SELECT doc_id, max(cos) AS max_cos,
       COALESCE(max(cos) >= {P.COSINE_THRESHOLD}, FALSE) AS contaminated
FROM s GROUP BY doc_id
"""


ORACLES["dedup_semantic"] = f"""
WITH {_EMB_CTE.strip()},
cents AS (SELECT vec_id AS cid, v AS vc, nrm AS nc FROM n
          WHERE vec_id < {P.IVF_CENTROIDS}),
corp_d AS (
  SELECT a.vec_id AS vid, c.cid, {_SEM_D2} AS d2,
         {_dec(f"{_SEM_COS_C} / (a.nrm * c.nc)", 6)} AS cos_centroid
  FROM n a, cents c
),
assigned AS (
  SELECT vid, cid, cos_centroid FROM (
    SELECT vid, cid, cos_centroid,
           row_number() OVER (PARTITION BY vid ORDER BY d2 ASC, cid ASC) AS rn
    FROM corp_d) WHERE rn = 1
),
ranked AS (
  SELECT vid, cid, cos_centroid,
         row_number() OVER (PARTITION BY cid
                            ORDER BY cos_centroid DESC, vid ASC) AS cell_rank
  FROM assigned
),
ex AS (SELECT cid, vid AS exemplar_id FROM ranked WHERE cell_rank = 1)
SELECT r.vid AS vec_id, CAST(r.cid AS INT) AS cell_id, e.exemplar_id,
       {_dec(f"{_DOT} / (a.nrm * b.nrm)", 4)} AS cos_exemplar,
       (r.vid = e.exemplar_id
        OR {_dec(f"{_DOT} / (a.nrm * b.nrm)", 4)} < {P.COSINE_THRESHOLD})
         AS keep
FROM ranked r
JOIN ex e USING (cid)
JOIN n a ON a.vec_id = r.vid
JOIN n b ON b.vec_id = e.exemplar_id
"""

ORACLES["dedup_embedding_auto"] = _DEDUP_EMB_AUTO_TEMPLATE.format(
    exact=ORACLES["dedup_embedding"],
    semantic=ORACLES["dedup_semantic"],
    budget=P.DEDUP_EMBEDDING_AUTO_MAX_VECTORS,
)

ORACLES["dedup_clusters"] = f"""
WITH RECURSIVE pairs AS ({_minhash_sql()}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION ALL
  SELECT doc_b AS a, doc_a AS b FROM pairs
),
r AS (
  SELECT doc_id AS node, doc_id AS reach FROM documents
  UNION
  SELECT r.node, e.b AS reach FROM r JOIN edges e ON r.reach = e.a
)
SELECT node AS doc_id, min(reach) AS cluster_id FROM r GROUP BY node
"""

def _pagerank_sql(n_iters: int = 3) -> str:
    """unrolled power iterations mirroring ``dedup.pagerank`` —
    quantized inflow sums keep every round engine-exact."""
    parts = [
        f"pairs AS ({_minhash_sql()})",
        "nodes AS (SELECT doc_id AS node FROM documents)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs"
        " UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs)",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        "r0 AS (SELECT node, floor(1.0 / n * 1e12 + 0.5) / 1e12 AS r"
        " FROM nodes, nn)",
    ]
    for i in range(1, n_iters + 1):
        parts.append(
            f"c{i} AS (SELECT e.dst,"
            f" sum(CAST(floor(r.r / d.deg * 1e12 + 0.5) AS BIGINT)) AS sq"
            f" FROM edges e JOIN r{i - 1} r ON e.src = r.node"
            " JOIN deg d ON e.src = d.src GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT node,"
            " floor((0.15 / n + 0.85 * (coalesce(sq, 0) / 1e12))"
            " * 1e12 + 0.5) / 1e12 AS r"
            f" FROM nodes LEFT JOIN c{i} ON node = dst, nn)"
        )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT node AS doc_id, r AS rank FROM r{n_iters}"
    )


ORACLES["graph_pagerank"] = _pagerank_sql(3)

ORACLES["term_topk"] = f"""
WITH toks AS (
  SELECT unnest(string_split({NORM}, ' ')) AS term FROM documents
)
SELECT term, count(*) AS n_occurrences FROM toks
WHERE length(term) > 0
GROUP BY term
ORDER BY n_occurrences DESC, term ASC
LIMIT 20
"""

ORACLES["udtf_chunk_tokens"] = f"""
WITH toks AS (
  SELECT doc_id, string_split({NORM}, ' ') AS t FROM documents
),
nz AS (
  SELECT doc_id, CASE WHEN t = [''] THEN [] ELSE t END AS t FROM toks
),
starts AS (
  SELECT doc_id, t, unnest(range(0, len(t), {P.CHUNK_STRIDE})) AS start
  FROM nz
)
SELECT doc_id,
       CAST(start // {P.CHUNK_STRIDE} AS INT) AS chunk_idx,
       CAST(start AS INT) AS start_tok,
       CAST(least({P.CHUNK_WINDOW}, len(t) - start) AS INT) AS n_toks,
       array_to_string(t[start + 1 : start + {P.CHUNK_WINDOW}], ' ') AS chunk_text
FROM starts
"""

ORACLES["tfidf_topk"] = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({NORM}, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE length(term) > 0 GROUP BY doc_id, term
),
idf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
       {_dec("tf * ((n_docs - df + 0.5) / (df + 0.5))", 6)} AS tfidf
FROM tf JOIN idf USING (term), n
QUALIFY row_number() OVER (
  PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) <= 3
"""

ORACLES["bm25_topk"] = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({NORM}, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks
  WHERE length(term) > 0 GROUP BY doc_id, term
),
dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id),
idf AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
a AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(dl AS BIGINT) AS dl,
       {_dec(
           "((n_docs - df + 0.5) / (df + 0.5))"
           " * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))",
           6,
       )} AS bm25
FROM tf JOIN dl USING (doc_id) JOIN idf USING (term), n, a
QUALIFY row_number() OVER (
  PARTITION BY doc_id ORDER BY bm25 DESC, term ASC) <= 3
"""

ORACLES["agg_incremental_totals"] = """
SELECT user_id, count(*) AS n_rows,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events GROUP BY user_id
"""

ORACLES["set_except_intersect"] = """
WITH a AS (SELECT c_custkey, c_name, c_mktsegment FROM customer
           WHERE c_custkey % 3 <> 0),
     b AS (SELECT c_custkey, c_name, c_mktsegment FROM customer
           WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE'))
SELECT *, 'both' AS membership FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
UNION ALL
SELECT *, 'a_only' AS membership FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
"""

_ZTERMS = " + ".join(
    f"(CAST(floor(a / {2**i}.0) AS BIGINT) % 2) * {2 ** (2 * i)}"
    f" + (CAST(floor(b / {2**i}.0) AS BIGINT) % 2) * {2 ** (2 * i + 1)}"
    for i in range(8)
)

ORACLES["sort_zorder"] = f"""
WITH ab AS (
  SELECT event_id, user_id % 256 AS a,
         CAST(floor(value) AS BIGINT) % 256 AS b
  FROM events
)
SELECT event_id, CAST({_ZTERMS} AS BIGINT) AS zval
FROM ab
ORDER BY zval ASC, event_id ASC
LIMIT 200
"""

ORACLES["scd2_intervals"] = """
SELECT user_id, event_id,
       CASE WHEN value > 50.0 THEN 'high' ELSE 'low' END AS attr,
       epoch_us(ts) AS valid_from_us,
       lead(epoch_us(ts)) OVER w AS valid_to_us,
       lead(epoch_us(ts)) OVER w IS NULL AS is_current
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
"""

ORACLES["window_lag_delta"] = f"""
SELECT event_id, user_id,
       {_dec("value - lag(value) OVER w", 2)} AS dvalue,
       epoch_ms(ts) - epoch_ms(lag(ts) OVER w) AS gap_ms,
       lead(event_id) OVER w AS next_event_id
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""

ORACLES["quantile_sketch"] = f"""
WITH b AS (
  SELECT event_type,
         CAST(floor(value / {P.QSKETCH_WIDTH!r}) AS BIGINT) AS bin
  FROM events WHERE value IS NOT NULL
),
counts AS (SELECT event_type, bin, count(*) AS c FROM b GROUP BY event_type, bin),
cum AS (
  SELECT event_type, bin, c,
         sum(c) OVER (PARTITION BY event_type ORDER BY bin
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(c) OVER (PARTITION BY event_type) AS n
  FROM counts
)
SELECT event_type, CAST(max(n) AS BIGINT) AS n_rows,
       CAST(min(CASE WHEN cum >= 0.5 * n THEN bin END) AS BIGINT) AS p50_bin,
       CAST(min(CASE WHEN cum >= 0.9 * n THEN bin END) AS BIGINT) AS p90_bin,
       CAST(min(CASE WHEN cum >= 0.99 * n THEN bin END) AS BIGINT) AS p99_bin
FROM cum GROUP BY event_type
"""

ORACLES["agg_ols_slope"] = """
WITH pts AS (
  SELECT user_id, epoch_ms(ts) AS x_ms,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS y_q
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
),
c AS (
  SELECT user_id,
         (x_ms - min(x_ms) OVER (PARTITION BY user_id)) // 1000 AS x,
         y_q
  FROM pts
)
SELECT user_id, count(*) AS n, CAST(sum(y_q) AS BIGINT) AS sum_y_cents,
       CASE WHEN count(*) * sum(x * x) - sum(x) * sum(x) = 0 THEN NULL
            ELSE floor(
              CAST(count(*) * sum(x * y_q) - sum(x) * sum(y_q) AS DOUBLE)
              / CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS DOUBLE)
              * 1e6 + 0.5) / 1e6
       END AS slope
FROM c GROUP BY user_id
"""

_BANDS_VALUES = ", ".join(
    f"({bid}, {lo!r}, {hi!r})" for bid, lo, hi in P.VALUE_BANDS
)

ORACLES["join_range"] = f"""
WITH bands(band_id, lo, hi) AS (VALUES {_BANDS_VALUES})
SELECT e.event_id, {_dec("e.value", 2)} AS value, CAST(b.band_id AS INT) AS band_id
FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
"""

ORACLES["join_full_outer_nullsafe"] = """
WITH ev AS (
  SELECT nullif(user_id % 20, 0) AS k, count(*) AS n_events
  FROM events GROUP BY 1
),
cust AS (
  SELECT nullif(c_custkey % 25, 0) AS k, count(*) AS n_custs
  FROM customer WHERE c_custkey < 1000 GROUP BY 1
)
SELECT coalesce(ev.k, cust.k) AS k, n_events, n_custs
FROM ev FULL JOIN cust ON ev.k IS NOT DISTINCT FROM cust.k
"""

ORACLES["join_skew_salted"] = """
WITH fact AS (
  SELECT event_id,
         CAST(CASE WHEN event_id % 4 <> 0 THEN 0
                   ELSE user_id % 100 END AS BIGINT) AS skew_key
  FROM events
),
dim AS (
  SELECT CAST(c_custkey AS BIGINT) AS skew_key, c_mktsegment
  FROM customer WHERE c_custkey < 100
)
SELECT f.event_id, f.skew_key, d.c_mktsegment
FROM fact f JOIN dim d USING (skew_key)
"""

ORACLES["join_bloom_pruned"] = f"""
SELECT l.l_orderkey, l.l_linenumber, o.o_custkey
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > {P.TARGET_PRICE_MIN}
  AND o.o_orderstatus = '{P.TARGET_STATUS}'
"""

ORACLES["join_asof"] = """
WITH l AS (SELECT event_id, user_id, ts, value FROM events
           WHERE event_type = 'click'),
     -- NULL never matches: DuckDB's ASOF otherwise treats a NULL
     -- left ts as +infinity (matches the LATEST right row) and
     -- pairs NULL with NULL on the right — both nonstandard. The
     -- engine contract is "a NULL key or ts is 'as of' nothing",
     -- so the right side drops them and NULL-ts left rows bypass
     -- the ASOF entirely, union-ed back with NULL payload.
     r AS (SELECT user_id, ts, max(value) AS value FROM events
           WHERE event_type = 'view'
             AND ts IS NOT NULL AND user_id IS NOT NULL
           GROUP BY user_id, ts)
SELECT l.event_id, l.user_id, l.value AS v_click,
       epoch_us(r.ts) AS view_ts_us, r.value AS v_view
FROM (SELECT * FROM l WHERE ts IS NOT NULL) l
ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
UNION ALL
SELECT event_id, user_id, value AS v_click,
       CAST(NULL AS BIGINT) AS view_ts_us,
       CAST(NULL AS DOUBLE) AS v_view
FROM l WHERE ts IS NULL
"""

# rate-based per-stratum downsampling (textstats.stratified_sample —
# the `split_assign` md5 bucket with a per-stratum keep-rate). This
# was the original `sample_stratified` oracle; when the exactly-K
# Hamilton form replaced that key in r9 the assignment below
# silently overwrote this one, orphaning both this SQL and its Spark
# arm — re-registered in r14 as its own key (the two samplers answer
# different questions: reproducible RATE thinning vs exact-K quota).
ORACLES["sample_stratified_rates"] = f"""
WITH h AS (
  SELECT event_id, event_type,
         {_hexpoly("md5('v1' || '|' || CAST(event_id AS VARCHAR))", 1)} % 100 AS bucket
  FROM events
)
SELECT event_id, event_type, CAST(bucket AS INT) AS bucket
FROM h
WHERE bucket < CASE event_type WHEN 'error' THEN 100
                               WHEN 'click' THEN 50 ELSE 10 END
"""

ORACLES["split_assign"] = f"""
WITH h AS (
  SELECT doc_id,
         {_hexpoly("md5('v1' || '|' || CAST(doc_id AS VARCHAR))", 1)} % 100 AS bucket
  FROM documents
)
SELECT doc_id, CAST(bucket AS INT) AS bucket,
       CASE WHEN bucket < 90 THEN 'train' ELSE 'test' END AS split
FROM h
"""

ORACLES["lm_score"] = f"""
WITH toks AS (
  SELECT doc_id, string_split({NORM}, ' ') AS t FROM documents
),
occ AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM toks)
),
docbg AS (SELECT doc_id, w1, w2, count(*) AS n FROM occ GROUP BY ALL),
pair  AS (SELECT w1, w2, count(*) AS c_bg FROM occ GROUP BY ALL),
ctx   AS (SELECT w1, count(*) AS c_ctx FROM occ GROUP BY ALL)
SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
       {_dec("CAST(sum(n * CAST(floor(CAST(c_bg AS DOUBLE) / c_ctx * 1e9 + 0.5)"
             " AS BIGINT)) AS DOUBLE) / 1e9 / sum(n)", 6)} AS avg_transition_p
FROM docbg JOIN pair USING (w1, w2) JOIN ctx USING (w1)
GROUP BY doc_id
"""

ORACLES["stream_join"] = """
SELECT c.event_id AS click_id, v.event_id AS view_id
FROM events c JOIN events v
  ON c.event_type = 'click' AND v.event_type = 'view'
 AND c.user_id = v.user_id
 AND v.ts BETWEEN c.ts - INTERVAL 1 HOUR AND c.ts
"""

ORACLES["stream_join_evicting"] = f"""
WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
     v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
     wm AS (SELECT least(
              (SELECT max(ts) FROM c WHERE event_id % {P.STREAM_EVICT_PHASE_MOD} = 0),
              (SELECT max(ts) FROM v))
            - INTERVAL {P.STREAM_EVICT_DELAY_DAYS} DAY AS w)
SELECT c.event_id AS click_id, v.event_id AS view_id
FROM c JOIN v ON c.user_id = v.user_id
             AND v.ts BETWEEN c.ts - INTERVAL 1 HOUR AND c.ts
CROSS JOIN wm
WHERE c.event_id % {P.STREAM_EVICT_PHASE_MOD} = 0 OR c.ts >= wm.w
"""

_CMS_MELT = " UNION ALL ".join(
    f"SELECT term, n, {j} AS j,"
    f" ((h1 * {a} + h2 * {b} + {c}) % {P.MINHASH_MOD}) % {P.CMS_WIDTH} AS bucket"
    " FROM ch"
    for j, (a, b, c) in enumerate(P.MINHASH_COEFFS[: P.CMS_DEPTH])
)

ORACLES["cms_topk"] = f"""
WITH toks AS (
  SELECT unnest(string_split({NORM}, ' ')) AS term FROM documents
),
tc AS (SELECT term, count(*) AS n FROM toks
       WHERE length(term) > 0 GROUP BY term),
hs AS (SELECT term, n, md5(term) AS h FROM tc),
ch AS (SELECT term, n, {_hexpoly("h", 1)} AS h1, {_hexpoly("h", 9)} AS h2 FROM hs),
mel AS ({_CMS_MELT}),
counters AS (SELECT j, bucket, sum(n) AS cnt FROM mel GROUP BY j, bucket),
top AS (SELECT term, n FROM tc ORDER BY n DESC, term ASC LIMIT 20)
SELECT t.term, CAST(t.n AS BIGINT) AS n_exact,
       CAST(min(c.cnt) AS BIGINT) AS n_cms
FROM top t
JOIN mel m ON m.term = t.term
JOIN counters c ON c.j = m.j AND c.bucket = m.bucket
GROUP BY t.term, t.n
"""

ORACLES["ann_recall"] = f"""
WITH exact AS (
  SELECT query_id, neighbor_id FROM ({_ann_sql(bucketed=False)}) t
),
lsh AS (
  SELECT query_id, neighbor_id FROM ({_ann_sql(bucketed=True)}) t
),
mp AS (
  SELECT query_id, neighbor_id
  FROM ({_ann_sql(bucketed=True, multiprobe=True)}) t
),
ivf AS (
  SELECT query_id, neighbor_id FROM ({_ivf_sql()}) t
),
hl AS (
  SELECT query_id, count(*) AS n_lsh
  FROM lsh JOIN exact USING (query_id, neighbor_id) GROUP BY 1
),
hm AS (
  SELECT query_id, count(*) AS n_mp
  FROM mp JOIN exact USING (query_id, neighbor_id) GROUP BY 1
),
hi AS (
  SELECT query_id, count(*) AS n_ivf
  FROM ivf JOIN exact USING (query_id, neighbor_id) GROUP BY 1
)
SELECT q.query_id,
       {_dec(f"coalesce(n_lsh, 0) / {float(P.ANN_TOP_K)}", 4)} AS recall_lsh,
       {_dec(f"coalesce(n_mp, 0) / {float(P.ANN_TOP_K)}", 4)} AS recall_lsh_mp,
       {_dec(f"coalesce(n_ivf, 0) / {float(P.ANN_TOP_K)}", 4)} AS recall_ivf
FROM (SELECT DISTINCT query_id FROM exact) q
LEFT JOIN hl USING (query_id)
LEFT JOIN hm USING (query_id)
LEFT JOIN hi USING (query_id)
"""

ORACLES["ann_bruteforce"] = _ann_sql(bucketed=False)

ORACLES["ann_lsh"] = _ann_sql(bucketed=True)

ORACLES["ann_lsh_multiprobe"] = _ann_sql(bucketed=True, multiprobe=True)

ORACLES["ann_ivf"] = _ivf_sql()
# the persisted-index path serves the identical semantics from a
# partitionBy(cid) parquet layout — one semantics, two physical
# strategies, one oracle
ORACLES["ann_index_roundtrip"] = _ivf_sql()

ORACLES["embedding_pq"] = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), sub AS (
  SELECT vec_id, j AS sub_id, v[j * 16 + 1 : (j + 1) * 16] AS sv
  FROM e, range(0, {P.PQ_SUBSPACES}) t(j)
), seeds AS (
  SELECT sub_id AS c_sub, vec_id AS cid, sv AS cv
  FROM sub WHERE vec_id < {P.PQ_CODEWORDS}
), scored AS (
  SELECT a.vec_id, a.sub_id, c.cid,
         list_sum(list_transform(range(1, 17),
                  i -> (a.sv[i] - c.cv[i]) * (a.sv[i] - c.cv[i]))) AS d2
  FROM sub a JOIN seeds c ON a.sub_id = c.c_sub
), best AS (
  SELECT vec_id, sub_id, cid, d2 FROM (
    SELECT vec_id, sub_id, cid, d2,
           row_number() OVER (PARTITION BY vec_id, sub_id
                              ORDER BY d2 ASC, cid ASC) AS rn
    FROM scored) WHERE rn = 1
)
SELECT vec_id,
       max(CASE WHEN sub_id = 0 THEN cid END) AS code0,
       max(CASE WHEN sub_id = 1 THEN cid END) AS code1,
       max(CASE WHEN sub_id = 2 THEN cid END) AS code2,
       max(CASE WHEN sub_id = 3 THEN cid END) AS code3,
       {sql_sum_fixed("d2", 6)} AS recon_err
FROM best GROUP BY vec_id
ORDER BY vec_id
"""

ORACLES["ann_ivfpq"] = f"""
WITH e AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), cents AS (
  SELECT vec_id AS cid, v AS vc FROM e WHERE vec_id < {P.IVF_CENTROIDS}
), cell_d AS (
  SELECT a.vec_id AS neighbor_id, c.cid,
         list_sum(list_transform(range(1, 65),
                  i -> (a.v[i] - c.vc[i]) * (a.v[i] - c.vc[i]))) AS d2
  FROM e a, cents c
), cells AS (
  SELECT neighbor_id, cid FROM (
    SELECT neighbor_id, cid,
           row_number() OVER (PARTITION BY neighbor_id
                              ORDER BY d2 ASC, cid ASC) AS rn
    FROM cell_d) WHERE rn = 1
), probes AS (
  SELECT query_id, cid FROM (
    SELECT neighbor_id AS query_id, cid,
           row_number() OVER (PARTITION BY neighbor_id
                              ORDER BY d2 ASC, cid ASC) AS rn
    FROM cell_d WHERE neighbor_id IN ({sql_in_list(P.ANN_QUERY_IDS)}))
  WHERE rn <= {P.IVF_NPROBE}
), sub AS (
  SELECT vec_id, j AS sub_id, v[j * 16 + 1 : (j + 1) * 16] AS sv
  FROM e, range(0, {P.PQ_SUBSPACES}) t(j)
), seeds AS (
  SELECT sub_id AS c_sub, vec_id AS code, sv AS cv
  FROM sub WHERE vec_id < {P.PQ_CODEWORDS}
), codes AS (
  SELECT vec_id AS neighbor_id, sub_id, code FROM (
    SELECT a.vec_id, a.sub_id, c.code,
           row_number() OVER (PARTITION BY a.vec_id, a.sub_id
                              ORDER BY list_sum(list_transform(range(1, 17),
                                i -> (a.sv[i] - c.cv[i]) * (a.sv[i] - c.cv[i]))) ASC,
                              c.code ASC) AS rn
    FROM sub a JOIN seeds c ON a.sub_id = c.c_sub) WHERE rn = 1
), dtab AS (
  SELECT q.vec_id AS query_id, q.sub_id, c.code,
         list_sum(list_transform(range(1, 17),
                  i -> (q.sv[i] - c.cv[i]) * (q.sv[i] - c.cv[i]))) AS qd2
  FROM sub q JOIN seeds c ON q.sub_id = c.c_sub
  WHERE q.vec_id IN ({sql_in_list(P.ANN_QUERY_IDS)})
), adc AS (
  SELECT p.query_id, cells.neighbor_id,
         {sql_sum_fixed("qd2", 6)} AS approx_d2
  FROM cells
  JOIN probes p ON cells.cid = p.cid
  JOIN codes ON cells.neighbor_id = codes.neighbor_id
  JOIN dtab ON dtab.query_id = p.query_id
           AND dtab.sub_id = codes.sub_id AND dtab.code = codes.code
  WHERE p.query_id <> cells.neighbor_id
  GROUP BY p.query_id, cells.neighbor_id
)
SELECT query_id, neighbor_id,
       {_dec("approx_d2", 4)} AS approx_d2,
       CAST(rank AS INT) AS rank
FROM (
  SELECT query_id, neighbor_id, approx_d2,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY approx_d2 ASC, neighbor_id ASC) AS rank
  FROM adc)
WHERE rank <= {P.ANN_TOP_K}
"""

ORACLES["ivf_train"] = f"""
WITH {_EMB_CTE.strip()},
cents AS (SELECT vec_id AS cid, v AS vc FROM n WHERE vec_id < {P.IVF_CENTROIDS}),
corp_d AS (
  SELECT a.vec_id AS nid, c.cid,
         list_sum(list_transform(range(1, 65),
                  i -> (a.v[i] - c.vc[i]) * (a.v[i] - c.vc[i]))) AS d2
  FROM n a, cents c
),
cells AS (
  SELECT nid, cid FROM (
    SELECT nid, cid,
           row_number() OVER (PARTITION BY nid ORDER BY d2 ASC, cid ASC) AS rn
    FROM corp_d) WHERE rn = 1
)
SELECT x.cid, i - 1 AS dim,
       {_dec("(CAST(sum(floor(a.v[i] * 1000000.0 + 0.5)) AS DOUBLE)"
             " / 1000000.0) / count(*)", 6)} AS centroid
FROM cells x, e a, range(1, 65) t(i)
WHERE a.vec_id = x.nid
GROUP BY x.cid, i
"""

ORACLES["ivf_train2"] = f"""
WITH {_EMB_CTE.strip()},
cents AS (SELECT vec_id AS cid, v AS vc FROM n WHERE vec_id < {P.IVF_CENTROIDS}),
corp_d AS (
  SELECT a.vec_id AS nid, c.cid,
         list_sum(list_transform(range(1, 65),
                  i -> (a.v[i] - c.vc[i]) * (a.v[i] - c.vc[i]))) AS d2
  FROM n a, cents c
),
cells AS (
  SELECT nid, cid FROM (
    SELECT nid, cid,
           row_number() OVER (PARTITION BY nid ORDER BY d2 ASC, cid ASC) AS rn
    FROM corp_d) WHERE rn = 1
),
c1 AS (
  SELECT x.cid, i - 1 AS dim,
         {_dec("(CAST(sum(floor(a.v[i] * 1000000.0 + 0.5)) AS DOUBLE)"
               " / 1000000.0) / count(*)", 6)} AS centroid
  FROM cells x, e a, range(1, 65) t(i)
  WHERE a.vec_id = x.nid
  GROUP BY x.cid, i
),
cv AS (SELECT cid, list(centroid ORDER BY dim) AS vc FROM c1 GROUP BY cid),
d2b AS (
  SELECT a.vec_id AS nid, c.cid,
         list_sum(list_transform(range(1, 65),
                  i -> (a.v[i] - c.vc[i]) * (a.v[i] - c.vc[i]))) AS d2
  FROM n a, cv c
),
cells2 AS (
  SELECT nid, cid FROM (
    SELECT nid, cid,
           row_number() OVER (PARTITION BY nid ORDER BY d2 ASC, cid ASC) AS rn
    FROM d2b) WHERE rn = 1
)
SELECT x.cid, i - 1 AS dim,
       {_dec("(CAST(sum(floor(a.v[i] * 1000000.0 + 0.5)) AS DOUBLE)"
             " / 1000000.0) / count(*)", 6)} AS centroid
FROM cells2 x, e a, range(1, 65) t(i)
WHERE a.vec_id = x.nid
GROUP BY x.cid, i
"""


def _ivf_train_sql(n_iters: int) -> str:
    """unrolled n-iteration Lloyd SQL — the same blocks as
    ``ivf_train``/``ivf_train2``, generated for arbitrary depth
    (fixed-point centroids keep every round engine-exact)."""
    cent = _dec(
        "(CAST(sum(floor(a.v[i] * 1000000.0 + 0.5)) AS DOUBLE)"
        " / 1000000.0) / count(*)",
        6,
    )

    def estep(src: str, dname: str, cellname: str) -> str:
        return (
            f"{dname} AS (\n"
            "  SELECT a.vec_id AS nid, c.cid,\n"
            "         list_sum(list_transform(range(1, 65),\n"
            "                  i -> (a.v[i] - c.vc[i]) * (a.v[i] - c.vc[i]))) AS d2\n"
            f"  FROM n a, {src} c\n"
            "),\n"
            f"{cellname} AS (\n"
            "  SELECT nid, cid FROM (\n"
            "    SELECT nid, cid,\n"
            "           row_number() OVER (PARTITION BY nid"
            " ORDER BY d2 ASC, cid ASC) AS rn\n"
            f"    FROM {dname}) WHERE rn = 1\n"
            ")"
        )

    def mstep(cells: str, name: str) -> str:
        return (
            f"{name} AS (\n"
            f"  SELECT x.cid, i - 1 AS dim,\n"
            f"         {cent} AS centroid\n"
            f"  FROM {cells} x, e a, range(1, 65) t(i)\n"
            "  WHERE a.vec_id = x.nid\n"
            "  GROUP BY x.cid, i\n"
            ")"
        )

    parts = [
        _EMB_CTE.strip(),
        f"cents AS (SELECT vec_id AS cid, v AS vc FROM n"
        f" WHERE vec_id < {P.IVF_CENTROIDS})",
        estep("cents", "d0", "cells0"),
    ]
    prev = "cells0"
    for it in range(1, n_iters):
        parts.append(mstep(prev, f"c{it}"))
        parts.append(
            f"cv{it} AS (SELECT cid, list(centroid ORDER BY dim) AS vc"
            f" FROM c{it} GROUP BY cid)"
        )
        parts.append(estep(f"cv{it}", f"d{it}", f"cells{it}"))
        prev = f"cells{it}"
    final = (
        f"SELECT x.cid, i - 1 AS dim,\n       {cent} AS centroid\n"
        f"FROM {prev} x, e a, range(1, 65) t(i)\n"
        "WHERE a.vec_id = x.nid\nGROUP BY x.cid, i"
    )
    return "WITH " + ",\n".join(parts) + "\n" + final


ORACLES["ivf_train3"] = _ivf_train_sql(3)


def _occ(hay: str, needle: str) -> str:
    n = needle.replace("'", "''")
    return (
        f"CAST((length({hay}) - length(replace({hay}, '{n}', ''))) // {len(needle)}"
        " AS BIGINT)"
    )


def _lang_sql() -> str:
    from rsbsa_etl_spark.functions.textstats import LANG_MARKERS

    pad = f"' ' || {NORM} || ' '"
    scores = {
        lang: " + ".join(_occ("p", f" {m} ") for m in markers)
        for lang, markers in LANG_MARKERS.items()
    }
    score_cols = ", ".join(f"{expr} AS score_{lang}" for lang, expr in scores.items())
    langs = list(LANG_MARKERS)
    mx = f"greatest({', '.join(f'score_{lang}' for lang in langs)})"
    case = " ".join(
        f"WHEN score_{lang} = mx AND mx > 0 THEN '{lang}'" for lang in langs
    )
    return f"""
WITH padded AS (SELECT doc_id, {pad} AS p FROM documents),
scores AS (SELECT doc_id, {score_cols} FROM padded),
m AS (SELECT *, {mx} AS mx FROM scores)
SELECT doc_id, {', '.join(f'score_{lang}' for lang in langs)},
       CASE {case} ELSE 'und' END AS lang_pred
FROM m
"""


ORACLES["lang_id"] = _lang_sql()


def _quality_sql() -> str:
    from rsbsa_etl_spark.functions.textstats import STOPWORDS

    stop_hits = " + ".join(_occ("p", f" {w} ") for w in STOPWORDS)
    return rf"""
WITH base AS (
  SELECT doc_id, {NORM} AS t, ' ' || {NORM} || ' ' AS p FROM documents
),
feat AS (
  SELECT doc_id,
         CAST(length(t) AS BIGINT) AS n_chars_norm,
         CAST(len(string_split(t, ' ')) AS BIGINT) AS n_tokens,
         {stop_hits} AS stop_hits,
         CAST(length(t) - length(regexp_replace(t, '[^\w\s]', '', 'g')) AS BIGINT)
           AS n_punct,
         CAST(length(t) - length(regexp_replace(t, '[0-9]', '', 'g')) AS BIGINT)
           AS n_digit,
         CAST(length(replace(t, ' ', '')) AS BIGINT) AS alpha_len
  FROM base
),
r AS (
  SELECT doc_id, n_chars_norm, n_tokens,
         {_dec("stop_hits / n_tokens", 4)} AS stop_ratio,
         {_dec("n_punct / greatest(n_chars_norm, 1)", 4)} AS punct_ratio,
         {_dec("n_digit / greatest(n_chars_norm, 1)", 4)} AS digit_ratio,
         {_dec("alpha_len / n_tokens", 4)} AS mean_tok_len
  FROM feat
)
SELECT doc_id, n_chars_norm, n_tokens, stop_ratio, punct_ratio, digit_ratio,
       mean_tok_len,
       {_dec(
           "(CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 0.25 ELSE 0.0 END"
           " + CASE WHEN mean_tok_len >= 3 AND mean_tok_len <= 12 THEN 0.25 ELSE 0.0 END"
           " + CASE WHEN stop_ratio >= 0.05 THEN 0.25 ELSE 0.0 END"
           " + CASE WHEN punct_ratio <= 0.2 THEN 0.25 ELSE 0.0 END)", 2)} AS quality
FROM r
"""


ORACLES["quality_score"] = _quality_sql()

ORACLES["token_count"] = rf"""
WITH base AS (SELECT doc_id, {NORM} AS t FROM documents),
pieces AS (
  SELECT doc_id, t,
         trim(regexp_replace(
           regexp_replace(t, '([0-9]+|[^\w\s])', ' \1 ', 'g'),
           '\s+', ' ', 'g')) AS pc
  FROM base
)
SELECT doc_id,
       CAST(len(string_split(t, ' ')) AS BIGINT) AS ws_tokens,
       CAST(len(string_split(pc, ' ')) AS BIGINT) AS pieces,
       CAST(list_sum(list_transform(string_split(pc, ' '),
                                    s -> CAST(ceil(length(s) / 4.0) AS BIGINT)))
            AS BIGINT) AS bpe_est
FROM pieces
"""

# per-language fertility: the token_count expressions aggregated by
# lang — exact long sums, one correctly-rounded double division each
ORACLES["tokenizer_fertility"] = rf"""
WITH base AS (
  SELECT lang, CAST(n_chars AS BIGINT) AS n_chars, {NORM} AS t
  FROM documents WHERE text IS NOT NULL
),
pieces AS (
  SELECT lang, n_chars,
         CAST(len(string_split(t, ' ')) AS BIGINT) AS words,
         CAST(list_sum(list_transform(
           string_split(trim(regexp_replace(
             regexp_replace(t, '([0-9]+|[^\w\s])', ' \1 ', 'g'),
             '\s+', ' ', 'g')), ' '),
           s -> CAST(ceil(length(s) / 4.0) AS BIGINT))) AS BIGINT)
           AS subwords
  FROM base
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(words) AS BIGINT) AS words,
       CAST(sum(subwords) AS BIGINT) AS subwords,
       {_dec("CAST(sum(subwords) AS BIGINT) / CAST(sum(words) AS BIGINT)", 4)} AS fertility,
       {_dec("CAST(sum(n_chars) AS BIGINT) / CAST(sum(subwords) AS BIGINT)", 4)} AS chars_per_token
FROM pieces GROUP BY lang
"""

# markup stripping over the synthesized tag-soup — identical dirty
# input built from the same columns, same strip order (tags →
# entities → whitespace), exact integer retained ratio
ORACLES["text_strip_markup"] = rf"""
WITH dirty AS (
  SELECT doc_id,
         '<html><body><h1>' || source || '</h1><p>' || text ||
         ' &amp; more &lt;soon&gt;</p>' ||
         '<div class="nav">home | about | login</div></body></html>'
           AS d
  FROM documents WHERE text IS NOT NULL
),
c AS (
  SELECT doc_id, d,
         trim(regexp_replace(
           replace(replace(replace(
             regexp_replace(d, '<[^>]*>', ' ', 'g'),
             '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
           '\s+', ' ', 'g')) AS clean
  FROM dirty
)
SELECT doc_id, clean AS clean_text,
       CAST(floor(length(clean) * 1000 / greatest(length(d), 1))
            AS BIGINT) AS retained_milli
FROM c
"""

ORACLES["doc_fingerprint"] = f"""
SELECT doc_id,
       md5({NORM}) AS content_md5,
       md5(array_to_string(list_sort(list_distinct({TOKS})), ' ')) AS bag_md5
FROM documents
"""

ORACLES["multimodal_meta"] = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       md5(text) AS checksum
FROM documents WHERE text IS NOT NULL
"""

# the "decode" stub is sha256-derived, so the whole multimodal path
# is SQL-portable on the ASCII fixture (payload bytes == text chars):
# feature[i] = uint32(sha256[4i..4i+4]) / 2^32, an exact binary
# scale. Projected to scalar f0..f7 columns (never an array — the
# driver's pandas canonicalizer cannot sort/hash list cells).
_FEAT_ITEMS = ", ".join(
    f"{_hexpoly('sha256(text)', 1 + 8 * i)} / 4294967296.0 AS f{i}"
    for i in range(8)
)

ORACLES["multimodal_features"] = f"""
SELECT doc_id,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       md5(text) AS content_md5,
       {_FEAT_ITEMS}
FROM documents WHERE text IS NOT NULL
"""

ORACLES["multimodal_chunks"] = """
WITH c AS (SELECT doc_id, text, length(text) AS L
           FROM documents WHERE text IS NOT NULL),
idx AS (
  SELECT doc_id, text, L,
         unnest(range(0, CAST(ceil(L / 128.0) AS BIGINT))) AS i
  FROM c WHERE L > 0
)
SELECT doc_id, CAST(i AS INT) AS chunk_idx,
       CAST(least(64, L - i * 128) AS BIGINT) AS chunk_len,
       md5(substr(text, CAST(i * 128 + 1 AS INT), 64)) AS chunk_md5
FROM idx
"""

ORACLES["tokenize_offsets"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS}) AS token,
         generate_subscripts({TOKS}, 1) - 1 AS pos
  FROM documents
)
SELECT doc_id, CAST(pos AS INT) AS pos, token,
       CAST(coalesce(sum(length(token) + 1) OVER (
              PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS start,
       CAST(length(token) AS BIGINT) AS len
FROM toks
"""

ORACLES["corpus_summary"] = f"""
WITH base AS (
  SELECT doc_id, lang, source,
         CAST(len(string_split({NORM}, ' ')) AS BIGINT) AS n_tokens,
         md5({NORM}) AS fp
  FROM documents
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(count(DISTINCT fp) AS BIGINT) AS n_unique
  FROM base
)
SELECT n_docs, total_tokens, n_langs, n_sources, n_unique,
       {_dec("CAST(total_tokens AS DOUBLE) / n_docs", 4)} AS avg_doc_tokens,
       {_dec("CAST(n_docs - n_unique AS DOUBLE) / n_docs", 6)} AS dup_rate
FROM agg
"""

ORACLES["scan_partition_pruned"] = """
SELECT event_id, user_id, event_type
FROM events WHERE event_type = 'click'
"""

ORACLES["ts_decompose"] = f"""
WITH bins AS (
  SELECT event_type, epoch_us(ts) // 86400000000 AS day, count(*) AS n
  FROM events GROUP BY ALL
),
framed AS (
  SELECT event_type, day, n,
         sum(n) OVER w AS trend7, count(n) OVER w AS frame_n
  FROM bins
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
dev AS (SELECT *, 7 * n - trend7 AS dev7 FROM framed WHERE frame_n = 7),
seas AS (
  SELECT event_type, day % 7 AS dow,
         CAST(sum(dev7) AS DOUBLE) / count(*) AS seasonal7
  FROM dev GROUP BY ALL
)
SELECT d.event_type, d.day, CAST(d.n AS BIGINT) AS n,
       {_dec("trend7 / 7.0", 4)} AS trend,
       {_dec("seasonal7 / 7.0", 4)} AS seasonal,
       {_dec("(dev7 - seasonal7) / 7.0", 4)} AS residual
FROM dev d JOIN seas s ON d.event_type = s.event_type AND d.day % 7 = s.dow
"""

ORACLES["window_gap_islands"] = """
WITH days AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
),
r AS (
  SELECT user_id, day,
         row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
  FROM days
)
SELECT user_id, CAST(min(day) AS BIGINT) AS start_day,
       CAST(max(day) AS BIGINT) AS end_day,
       CAST(count(*) AS BIGINT) AS streak_days
FROM r GROUP BY user_id, day - rn
"""

ORACLES["join_bucketed"] = """
SELECT o.o_orderkey, o.o_custkey AS custkey, c.c_mktsegment
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
"""

ORACLES["multimodal_resize"] = """
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS orig_len,
       CAST(len(range(1, length(text) + 1, 4)) AS BIGINT) AS resized_len,
       md5(array_to_string(
             list_transform(range(1, length(text) + 1, 4),
                            i -> substr(text, CAST(i AS INT), 1)), '')) AS resized_md5
FROM documents WHERE text IS NOT NULL
"""

# ---------------------------------------------------------------- curation

ORACLES["repetition_score"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS toks FROM documents),
ex AS (SELECT doc_id, unnest(toks) AS tok FROM toks),
pt AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY 1, 2),
freq AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         count(*) AS n_distinct, max(c) AS top_count
  FROM pt GROUP BY 1
),
g2 AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)),
                                  i -> array_to_string(toks[i:i+1], ' '))
              ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM toks
),
narrow AS (
  SELECT doc_id, len(grams) AS n_2grams,
         len(list_distinct(grams)) AS n_distinct_2grams
  FROM g2
)
SELECT f.doc_id, f.n_tokens,
       {_dec('f.n_distinct / f.n_tokens', 6)} AS distinct_frac,
       {_dec('f.top_count / f.n_tokens', 6)} AS top_token_frac,
       CASE WHEN n.n_2grams > 0
            THEN {_dec('(n.n_2grams - n.n_distinct_2grams) / n.n_2grams', 6)}
            ELSE 0.0 END AS dup_2gram_frac
FROM freq f JOIN narrow n USING (doc_id)
"""

ORACLES["decontam_ngram"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS toks FROM documents
              WHERE text IS NOT NULL),
sh AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {P.SHINGLE_K}
              THEN list_transform(range(1, len(toks) - {P.SHINGLE_K} + 2),
                                  i -> array_to_string(toks[i:i+{P.SHINGLE_K - 1}], ' '))
              ELSE [array_to_string(toks, ' ')] END AS shingles
  FROM toks
),
train AS (SELECT doc_id, unnest(shingles) AS g FROM sh WHERE doc_id >= {P.EVAL_DOC_MAX}),
eval_set AS (SELECT DISTINCT unnest(shingles) AS g FROM sh WHERE doc_id < {P.EVAL_DOC_MAX}),
hits AS (
  SELECT t.doc_id, CASE WHEN e.g IS NOT NULL THEN 1 END AS hit
  FROM train t LEFT JOIN eval_set e USING (g)
)
SELECT doc_id, count(*) AS n_shingles,
       CAST(coalesce(sum(hit), 0) AS BIGINT) AS n_hit,
       {_dec('coalesce(sum(hit), 0) / count(*)', 6)} AS hit_frac,
       coalesce(sum(hit), 0) * 100 >= count(*) * {P.DECONTAM_PCT} AS contaminated
FROM hits GROUP BY doc_id
"""

ORACLES["pack_sequences"] = f"""
WITH sized AS (
  SELECT doc_id, source, CAST(len({TOKS}) AS INT) AS n_tokens FROM documents
),
o AS (
  SELECT *,
         coalesce(sum(n_tokens) OVER (
           PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
  FROM sized
)
SELECT doc_id, source, n_tokens, CAST(start_off AS BIGINT) AS start_off,
       CAST(start_off // {P.PACK_CAPACITY} AS BIGINT) AS first_block,
       CAST((start_off + n_tokens - 1) // {P.PACK_CAPACITY} AS BIGINT) AS last_block
FROM o
"""

_PII_TEXT = (
    "'reach ' || lower(c_name) || ' at user' || CAST(c_custkey AS VARCHAR)"
    " || '@example.com or +63-9'"
    " || printf('%02d-%03d-%04d', c_custkey % 100, c_custkey % 1000,"
    " c_custkey % 10000) || ' re: account'"
)
_PII_EMAIL = r"[a-z0-9._]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"\+63-9[0-9]{2}-[0-9]{3}-[0-9]{4}"

ORACLES["pii_redact"] = f"""
WITH t AS (SELECT c_custkey, {_PII_TEXT} AS text FROM customer)
SELECT c_custkey,
       regexp_replace(regexp_replace(text, '{_PII_EMAIL}', '[EMAIL]', 'g'),
                      '{_PII_PHONE}', '[PHONE]', 'g') AS redacted,
       CAST(len(regexp_extract_all(text, '{_PII_EMAIL}')) AS INT) AS n_emails,
       CAST(len(regexp_extract_all(text, '{_PII_PHONE}')) AS INT) AS n_phones
FROM t
"""

_SAMPLE_THR_NUM = float(P.SAMPLE_K) * 4294967296.0  # K * 2^32

ORACLES["sample_temperature"] = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(length(bin(doc_id + 1)) - 1 AS BIGINT) AS domain
  FROM documents
),
c AS (SELECT domain, count(*) AS c_d FROM d GROUP BY 1),
t AS (SELECT domain, c_d,
             floor({_SAMPLE_THR_NUM!r} / sqrt(CAST(c_d AS DOUBLE))) AS keep_below
      FROM c),
h AS (
  SELECT d.*, {_hexpoly("md5(CAST(doc_id AS VARCHAR))", 1)} AS u32 FROM d
)
SELECT doc_id, domain, c_d, source
FROM h JOIN t USING (domain)
WHERE u32 < keep_below
"""

ORACLES["stream_dedup"] = f"""
SELECT event_id, event_type, {_dec('value', 2)} AS value FROM events
"""

# the oracle runs the GLOBAL running-total window the Spark side
# decomposes into the 64-bucket two-pass prefix sum — bit equality
# of the two formulations is the thing under test
ORACLES["sample_token_budget"] = f"""
WITH base AS (
  SELECT doc_id,
         CAST(len(string_split({NORM}, ' ')) AS BIGINT) AS n_tokens,
         {_hexpoly("md5('tb1' || '|' || CAST(doc_id AS VARCHAR))", 1)} AS pri
  FROM documents WHERE text IS NOT NULL
),
cum AS (
  SELECT doc_id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY pri, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM base
)
SELECT doc_id, n_tokens, cum_tokens FROM cum
WHERE cum_tokens <= {P.TOKEN_BUDGET}
"""

# weighted multinomial draws: the oracle's global SUM() OVER window
# is the single-task formulation the Spark side's 64-bucket prefix
# sum decomposes (same bit-equality contract as sample_token_budget);
# draws are 60-bit salted hashes mod the total weight — all integer
ORACLES["sample_weighted"] = f"""
WITH base AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS w,
         {_hexpoly("md5('ws1' || '|' || CAST(doc_id AS VARCHAR))", 1)} AS pri
  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
),
cum AS (
  SELECT doc_id, w,
         CAST(sum(w) OVER (ORDER BY pri, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS hi
  FROM base
),
tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw FROM base),
draws AS (
  SELECT j AS draw_id,
         {_hexpoly("md5('wsm' || '|' || CAST(j AS VARCHAR))", 1, 15)}
           % tw AS u
  FROM range({P.WSAMPLE_DRAWS}) t(j), tot
)
SELECT d.draw_id, c.doc_id, c.w AS weight
FROM draws d JOIN cum c ON d.u >= c.hi - c.w AND d.u < c.hi
"""

# exactly-K stratified sample: Hamilton largest-remainder allocation
# over the stratum counts (all BIGINT), then the alloc_g smallest
# salted hashes per stratum — division is / (double) + floor in BOTH
# engines so the apportionment floors are IEEE-identical
ORACLES["sample_stratified"] = f"""
WITH c AS (SELECT lang, count(*) AS n_g FROM documents
           WHERE lang IS NOT NULL GROUP BY 1),
t AS (SELECT CAST(sum(n_g) AS BIGINT) AS n_tot FROM c),
s AS (
  SELECT lang, n_g,
         CAST(floor({P.STRAT_SAMPLE_K} * n_g / n_tot) AS BIGINT) AS base,
         ({P.STRAT_SAMPLE_K} * n_g) % n_tot AS rem
  FROM c, t
),
a AS (
  SELECT lang, n_g,
         base + CASE WHEN row_number()
                            OVER (ORDER BY rem DESC, lang ASC NULLS LAST)
                      <= {P.STRAT_SAMPLE_K} - sum(base) OVER ()
                THEN 1 ELSE 0 END AS alloc
  FROM s
),
h AS (
  SELECT doc_id, lang,
         row_number() OVER (PARTITION BY lang ORDER BY
           {_hexpoly("md5('st1' || '|' || CAST(doc_id AS VARCHAR))", 1)} ASC,
           doc_id ASC) AS rn
  FROM documents WHERE lang IS NOT NULL
)
SELECT h.doc_id, h.lang, a.n_g, a.alloc
FROM h JOIN a USING (lang) WHERE h.rn <= a.alloc
"""

# epoch-capped mixture allocation: one corpus token sum per source,
# then pure G-row arithmetic — sqrt is correctly-rounded IEEE in both
# engines (the temperature_sample precedent), everything else BIGINT
ORACLES["mix_epochs"] = f"""
WITH tok AS (
  SELECT source,
         CAST(sum(len(string_split({NORM}, ' '))) AS BIGINT) AS n_tokens
  FROM documents WHERE text IS NOT NULL
  GROUP BY 1 HAVING sum(len(string_split({NORM}, ' '))) > 0
),
base AS (
  SELECT source, n_tokens,
         CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * {P.MIX_WEIGHT_SCALE})
              AS BIGINT) AS weight,
         {P.MIX_MAX_EPOCHS} * n_tokens AS cap
  FROM tok
),
tot AS (
  SELECT CAST(floor({P.MIX_BUDGET_NUM} * sum(n_tokens)
                    / {P.MIX_BUDGET_DEN}) AS BIGINT) AS budget,
         CAST(sum(weight) AS BIGINT) AS w_tot
  FROM base
),
prop AS (
  SELECT b.source, b.n_tokens, b.weight, b.cap, t.budget,
         least(b.cap, CAST(floor(t.budget * b.weight / t.w_tot) AS BIGINT))
           AS alloc1
  FROM base b, tot t
),
f AS (
  SELECT *,
         budget - CAST(sum(alloc1) OVER () AS BIGINT) AS leftover,
         CAST(COALESCE(sum(cap - alloc1) OVER (
             ORDER BY weight DESC, source ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS head_before
  FROM prop
)
SELECT source, n_tokens, weight, cap,
       alloc1 + greatest(0, least(cap - alloc1, leftover - head_before))
         AS alloc,
       CAST(floor((alloc1 + greatest(0, least(cap - alloc1,
                    leftover - head_before))) * 1000 / n_tokens)
            AS BIGINT) AS epochs_milli
FROM f
"""

# per-language adaptive quality cutoff: the histogram formulation the
# Spark side runs, expressed directly (the lm_score oracle nests as a
# subquery — DuckDB allows WITH inside a derived table)
ORACLES["quality_adaptive"] = f"""
WITH scored AS (
  SELECT lm.doc_id, lm.n_bigrams, lm.avg_transition_p, d.lang
  FROM ({ORACLES["lm_score"]}) lm JOIN documents d USING (doc_id)
),
hist AS (
  SELECT lang, avg_transition_p, count(*) AS cnt FROM scored GROUP BY ALL
),
cum AS (
  SELECT lang, avg_transition_p, cnt,
         sum(cnt) OVER (PARTITION BY lang ORDER BY avg_transition_p DESC
                        ROWS UNBOUNDED PRECEDING) AS cum,
         sum(cnt) OVER (PARTITION BY lang) AS n_lang
  FROM hist
),
keep AS (
  SELECT lang, avg_transition_p FROM cum
  WHERE (cum - cnt) * 100 < {P.QUALITY_KEEP_PCT} * n_lang
)
SELECT s.doc_id, s.lang, s.n_bigrams, s.avg_transition_p
FROM scored s JOIN keep USING (lang, avg_transition_p)
"""

ORACLES["group_sample_n"] = f"""
WITH h AS (
  SELECT event_id, event_type,
         {_hexpoly("md5('gs1' || '|' || CAST(event_id AS VARCHAR))", 1)} AS pri
  FROM events
),
r AS (
  SELECT event_id, event_type,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY pri, event_id) AS rn
  FROM h
)
SELECT event_id, event_type, CAST(rn AS INT) AS rn
FROM r WHERE rn <= {P.GROUP_SAMPLE_N}
"""

ORACLES["bpe_pairs"] = f"""
WITH toks AS (SELECT unnest({TOKS}) AS tok FROM documents),
pairs AS (
  SELECT unnest(list_transform(range(1, length(tok)),
                               i -> substr(tok, CAST(i AS INT), 2))) AS pair
  FROM toks WHERE length(tok) >= 2
)
SELECT pair, CAST(count(*) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair ASC LIMIT {P.BPE_TOPK}
"""

# BPE training/inference, 3 rounds unrolled from ONE shared CTE
# builder — the same single-sourcing as textstats._bpe_merge_rounds.
# Each round's merge is applied via a scalar subquery coalesced to
# the empty string: replace(seq, '', '') is a no-op in DuckDB, so a
# round whose pair space is exhausted leaves the vocabulary chain
# intact — matching the Spark loop's early break (a cross join of
# the empty best{r} would instead WIPE the chain, which diverged on
# merge-exhausting corpora).
def _bpe_rounds_ctes(rounds: int, carry_tok: bool) -> list[str]:
    tokcol = "tok, " if carry_tok else ""
    ctes = [
        f"""w0 AS (
  SELECT {tokcol}CAST(count(*) AS BIGINT) AS cnt,
         '||' || array_to_string(
             list_transform(range(1, length(tok) + 1),
                            i -> substr(tok, CAST(i AS INT), 1)), '||')
              || '||' AS seq
  FROM (SELECT unnest({TOKS}) AS tok FROM documents)
  WHERE length(tok) >= 1
  GROUP BY tok
)"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"""sy{r} AS (
  SELECT cnt, list_filter(string_split(seq, '||'), x -> x <> '') AS s
  FROM w{p}
),
pr{r} AS (
  SELECT s[i] AS l, s[i + 1] AS r, CAST(sum(cnt) AS BIGINT) AS n
  FROM (SELECT cnt, s, unnest(range(1, len(s))) AS i
        FROM sy{r} WHERE len(s) >= 2)
  GROUP BY 1, 2
),
best{r} AS (SELECT l, r, n FROM pr{r} ORDER BY n DESC, l ASC, r ASC LIMIT 1),
w{r} AS (
  SELECT {tokcol}cnt,
         replace(seq,
                 coalesce((SELECT '|' || l || '||' || r || '|' FROM best{r}), ''),
                 coalesce((SELECT '|' || l || r || '|' FROM best{r}), '')) AS seq
  FROM w{p}
)"""
        )
    return ctes


def _bpe_train_sql(rounds: int) -> str:
    ctes = _bpe_rounds_ctes(rounds, carry_tok=False)
    finals = " UNION ALL ".join(
        f"SELECT {r} AS round, l AS \"left\", r AS \"right\","
        f" l || r AS merged, n AS pair_count FROM best{r}"
        for r in range(1, rounds + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals


ORACLES["bpe_train"] = _bpe_train_sql(P.BPE_TRAIN_ROUNDS)


def _bpe_segment_sql(rounds: int) -> str:
    ctes = _bpe_rounds_ctes(rounds, carry_tok=True)
    ctes.append(
        f"""vocab AS (
  SELECT tok,
         CAST(len(list_filter(string_split(seq, '||'), x -> x <> ''))
              AS BIGINT) AS n_syms,
         CAST(length(tok) AS BIGINT) AS n_chars
  FROM w{rounds}
),
tr AS (
  SELECT doc_id, unnest({TOKS}) AS tok FROM documents
),
pd AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(v.n_syms) AS BIGINT) AS n_symbols,
         CAST(sum(v.n_chars) AS BIGINT) AS sum_chars
  FROM tr t JOIN vocab v USING (tok)
  WHERE length(t.tok) >= 1
  GROUP BY t.doc_id
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT doc_id, n_tokens, n_symbols,
       {_dec('CAST(sum_chars AS DOUBLE) / n_symbols', 4)} AS chars_per_symbol
FROM pd"""
    )


ORACLES["bpe_segment"] = _bpe_segment_sql(P.BPE_TRAIN_ROUNDS)


def _tokenizer_fertility_bpe_sql(rounds: int) -> str:
    """trained-BPE per-language fertility: the bpe_segment vocabulary
    chain, aggregated by lang instead of doc_id — mirrors
    textstats.tokenizer_fertility_bpe column for column."""
    ctes = _bpe_rounds_ctes(rounds, carry_tok=True)
    ctes.append(
        f"""vocab AS (
  SELECT tok,
         CAST(len(list_filter(string_split(seq, '||'), x -> x <> ''))
              AS BIGINT) AS n_syms,
         CAST(length(tok) AS BIGINT) AS n_chars
  FROM w{rounds}
),
tr AS (
  SELECT doc_id, lang, unnest({TOKS}) AS tok FROM documents
),
pl AS (
  SELECT t.lang,
         CAST(count(DISTINCT t.doc_id) AS BIGINT) AS n_docs,
         CAST(count(*) AS BIGINT) AS words,
         CAST(sum(v.n_syms) AS BIGINT) AS subwords,
         CAST(sum(v.n_chars) AS BIGINT) AS sum_chars
  FROM tr t JOIN vocab v USING (tok)
  WHERE length(t.tok) >= 1
  GROUP BY t.lang
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT lang, n_docs, words, subwords,
       {_dec('CAST(subwords AS DOUBLE) / words', 4)} AS fertility,
       {_dec('CAST(sum_chars AS DOUBLE) / subwords', 4)} AS chars_per_token
FROM pl"""
    )


ORACLES["tokenizer_fertility_bpe"] = _tokenizer_fertility_bpe_sql(
    P.BPE_TRAIN_ROUNDS
)

ORACLES["lang_confusion"] = f"""
SELECT d.lang AS lang_true, p.lang_pred, CAST(count(*) AS BIGINT) AS n
FROM documents d JOIN ({_lang_sql()}) p USING (doc_id)
GROUP BY ALL
"""

_KM = P.SKETCH_MERGE_K
ORACLES["sketch_merge"] = f"""
WITH stoks AS (SELECT source, {TOKS} AS toks FROM documents),
ssh AS (
  SELECT source,
         CASE WHEN len(toks) >= {_K}
              THEN list_transform(range(1, len(toks) - {_K} + 2),
                                  i -> array_to_string(toks[i:i+{_K - 1}], ' '))
              ELSE [array_to_string(toks, ' ')] END AS shingles
  FROM stoks
),
sterm AS (
  SELECT DISTINCT source, unnest(shingles) AS term FROM ssh
),
hs AS (
  SELECT DISTINCT source, {_hexpoly("md5(term)", 1)} AS h FROM sterm
),
shard AS (SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h) AS rn
          FROM hs),
ssk AS (SELECT DISTINCT h FROM shard WHERE rn <= {_KM}),
msk AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                       FROM ssk) WHERE rn <= {_KM}),
dsk AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                       FROM (SELECT DISTINCT h FROM hs)) WHERE rn <= {_KM}),
mest AS (SELECT CASE WHEN count(*) < {_KM} THEN CAST(count(*) AS DOUBLE)
                     ELSE {_KM - 1} * 4294967296.0 / max(h) END AS m_est
         FROM msk),
dest AS (SELECT CASE WHEN count(*) < {_KM} THEN CAST(count(*) AS DOUBLE)
                     ELSE {_KM - 1} * 4294967296.0 / max(h) END AS d_est
         FROM dsk),
cnts AS (SELECT CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
                CAST(count(DISTINCT h) AS BIGINT) AS exact_distinct
         FROM hs)
SELECT n_sources, {_dec("m_est", 4)} AS merged_est,
       {_dec("d_est", 4)} AS direct_est, exact_distinct,
       CAST(m_est = d_est AS INT) AS merge_lossless
FROM cnts, mest, dest
"""

ORACLES["novelty_score"] = f"""
WITH {SHINGLES_CTE},
ds AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
per_doc AS (SELECT doc_id, count(*) AS n_shingles FROM ds GROUP BY doc_id),
firsts AS (SELECT shingle, min(doc_id) AS doc_id FROM ds GROUP BY shingle),
nov AS (SELECT doc_id, count(*) AS n_novel FROM firsts GROUP BY doc_id)
SELECT p.doc_id, CAST(p.n_shingles AS BIGINT) AS n_shingles,
       CAST(coalesce(n.n_novel, 0) AS BIGINT) AS n_novel,
       {_dec("CAST(coalesce(n.n_novel, 0) AS DOUBLE) / p.n_shingles", 4)} AS novelty
FROM per_doc p LEFT JOIN nov n USING (doc_id)
"""

ORACLES["sample_fixed_n"] = f"""
SELECT doc_id,
       {_hexpoly("md5('fx1' || '|' || CAST(doc_id AS VARCHAR))", 1)} AS pri
FROM documents ORDER BY pri, doc_id LIMIT {P.SAMPLE_N}
"""

# streaming reservoir == batch fixed-N sample, exactly (mergeable
# hash-min top-N), so the oracle is the batch SQL verbatim
ORACLES["stream_sample"] = ORACLES["sample_fixed_n"]

ORACLES["burst_detect"] = f"""
WITH bins AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h, count(*) AS n
  FROM events GROUP BY ALL
),
trail AS (
  SELECT event_type, h, CAST(n AS BIGINT) AS n,
         CAST(coalesce(sum(n) OVER w, 0) AS BIGINT) AS prev_total,
         CAST(count(n) OVER w AS BIGINT) AS prev_bins
  FROM bins
  WINDOW w AS (PARTITION BY event_type ORDER BY h
               RANGE BETWEEN {P.BURST_WINDOW_H} PRECEDING AND 1 PRECEDING)
)
SELECT event_type, h, n, prev_total, prev_bins,
       CAST(prev_bins > 0 AND n >= {P.BURST_MIN}
            AND n * prev_bins > {P.BURST_FACTOR} * prev_total
            AS INT) AS is_burst
FROM trail
"""

# stream/batch lambda equivalence: the streaming bins must reproduce
# the batch groupBy exactly, so the oracle is the batch SQL verbatim
ORACLES["stream_burst"] = ORACLES["burst_detect"]

ORACLES["compact_plan"] = f"""
SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
       CAST(floor((sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS UNBOUNDED PRECEDING) - n_chars)
                  / {P.COMPACT_TARGET}) AS BIGINT) AS out_shard
FROM documents
"""

_W_SEG = P.SEG_TOKENS

ORACLES["dedup_segments"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS toks FROM documents),
segs AS (
  SELECT doc_id,
         unnest(list_transform(
           range(0, CAST(ceil(len(toks) / {float(_W_SEG)!r}) AS INT)),
           i -> struct_pack(
             seg_idx := i,
             seg := array_to_string(toks[i*{_W_SEG}+1:i*{_W_SEG}+{_W_SEG}], ' ')
           ))) AS s
  FROM toks
),
rows_ AS (
  SELECT doc_id, s.seg_idx AS seg_idx, s.seg AS seg,
         row_number() OVER (PARTITION BY s.seg ORDER BY doc_id, s.seg_idx) AS rn
  FROM segs
)
SELECT doc_id, count(*) AS n_segs,
       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn = 1 THEN len(string_split(seg, ' ')) ELSE 0 END)
            AS BIGINT) AS n_tokens_kept
FROM rows_ GROUP BY doc_id
"""

ORACLES["window_ntile"] = f"""
SELECT event_id, event_type,
       CAST(ntile(4) OVER w AS INT) AS quartile,
       {_dec('percent_rank() OVER w', 6)} AS pr,
       {_dec('cume_dist() OVER w', 6)} AS cd
FROM events
WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
"""

ORACLES["agg_grouping_sets"] = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(sum(CAST(floor(l_quantity * 100.0 + 0.5) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
       count(*) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""

ORACLES["join_spatial_grid"] = f"""
WITH cpt AS (
  SELECT c_custkey,
         (c_custkey * {P.GEO_AX}) % {P.GEO_MOD} AS x,
         (c_custkey * {P.GEO_AY}) % {P.GEO_MOD} AS y
  FROM customer
),
spt AS (
  SELECT s_suppkey,
         (s_suppkey * {P.GEO_AX}) % {P.GEO_MOD} AS qx,
         (s_suppkey * {P.GEO_AY}) % {P.GEO_MOD} AS qy
  FROM supplier
)
SELECT s_suppkey, c_custkey,
       (x - qx) * (x - qx) + (y - qy) * (y - qy) AS dist2
FROM spt JOIN cpt
  ON (x - qx) * (x - qx) + (y - qy) * (y - qy) <= {P.GEO_RADIUS * P.GEO_RADIUS}
"""

ORACLES["validate_domains"] = """
WITH agg AS (
  SELECT count(*) AS n_checked,
         CAST(sum(CASE WHEN event_type NOT IN ('signup','click','purchase','view')
                       THEN 1 ELSE 0 END) AS BIGINT) AS v_domain,
         CAST(sum(CASE WHEN value < 0 OR value > 250 THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
         CAST(sum(CASE WHEN user_id IS NULL OR user_id < 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_user,
         count(*) - count(DISTINCT event_id) AS v_unique
  FROM events
)
SELECT 'type_in_domain' AS rule, n_checked, v_domain AS n_violations, v_domain = 0 AS passed FROM agg
UNION ALL
SELECT 'value_in_range', n_checked, v_range, v_range = 0 FROM agg
UNION ALL
SELECT 'user_id_valid', n_checked, v_user, v_user = 0 FROM agg
UNION ALL
SELECT 'event_id_unique', n_checked, v_unique, v_unique = 0 FROM agg
"""

ORACLES["join_temporal_validity"] = """
WITH dim AS (
  SELECT user_id AS u,
         CASE WHEN value > 50.0 THEN 'high' ELSE 'low' END AS attr,
         epoch_us(ts) AS valid_from_us,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS valid_to_us
  FROM events WHERE event_type = 'purchase'
),
fact AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us
  FROM events WHERE event_type = 'click'
)
SELECT event_id, user_id, attr, valid_from_us
FROM fact JOIN dim
  ON fact.user_id = dim.u
 AND ts_us >= valid_from_us
 AND (valid_to_us IS NULL OR ts_us < valid_to_us)
"""

ORACLES["agg_time_rollup"] = f"""
WITH b AS (
  SELECT (epoch_ms(ts) // 1000) // 86400 AS day_b,
         (epoch_ms(ts) // 1000) // 3600 AS hour_b, value
  FROM events
)
SELECT coalesce(day_b, -1) AS day_b, coalesce(hour_b, -1) AS hour_b,
       count(*) AS n_events,
       {sql_sum_fixed('value', 2)} AS sum_value
FROM b GROUP BY ROLLUP (day_b, hour_b)
"""

ORACLES["window_first_last"] = f"""
SELECT event_id, user_id,
       {_dec('first_value(value) OVER w', 2)} AS first_v,
       {_dec('last_value(value) OVER w', 2)} AS last_v,
       {_dec('nth_value(value, 3) OVER w', 2)} AS third_v
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""

_PROF_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")

ORACLES["profile_stats"] = "\nUNION ALL\n".join(
    f"""SELECT '{c}' AS column_name,
       (SELECT count(*) FROM lineitem) AS n_rows,
       count({c}) AS n_nonnull, count(DISTINCT {c}) AS n_distinct,
       {_dec(f'min({c})', 4)} AS min_v, {_dec(f'max({c})', 4)} AS max_v,
       {sql_sum_fixed(c, 2)} AS sum_v
FROM lineitem"""
    for c in _PROF_COLS
)

ORACLES["group_mode"] = """
WITH counted AS (
  SELECT user_id, event_type, count(*) AS n FROM events
  GROUP BY user_id, event_type
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY n DESC, event_type ASC) AS rk
  FROM counted
)
SELECT user_id, event_type AS modal_type, n FROM ranked WHERE rk = 1
"""

ORACLES["outlier_zscore"] = f"""
WITH q AS (
  SELECT *, CAST(floor(CAST(value AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS vi
  FROM events
), m AS (
  SELECT event_type, count(*) AS n, sum(vi) AS sx, sum(vi * vi) AS sxx
  FROM q GROUP BY event_type
), v AS (
  SELECT event_type, n, sx,
         CAST(sxx AS DOUBLE) / n / 10000.0 / 10000.0
         - (CAST(sx AS DOUBLE) / n / 10000.0)
           * (CAST(sx AS DOUBLE) / n / 10000.0) AS var
  FROM m
), z AS (
  SELECT q.event_id, q.event_type, q.value,
         (CAST(value AS DOUBLE)
          - CAST(sx AS DOUBLE) / n / 10000.0)
         / sqrt(CASE WHEN var > 0 THEN var END) AS zs
  FROM q JOIN v USING (event_type)
)
SELECT event_id, event_type,
       {_dec('value', 4)} AS value_r, {_dec('zs', 6)} AS zscore
FROM z WHERE zs >= 2.0 OR zs <= -2.0
"""

ORACLES["outlier_mad"] = f"""
WITH med AS (
  SELECT event_type, {_dec("quantile_cont(value, 0.5)", 6)} AS med
  FROM events GROUP BY event_type
), dev AS (
  SELECT event_id, events.event_type, value,
         abs(CAST(value AS DOUBLE) - med) AS adev
  FROM events JOIN med USING (event_type)
), mad AS (
  SELECT event_type, {_dec("quantile_cont(adev, 0.5)", 6)} AS mad
  FROM dev GROUP BY event_type
)
SELECT event_id, dev.event_type,
       {_dec("value", 4)} AS value_r,
       {_dec("adev / (1.4826 * mad)", 6)} AS robust_z
FROM dev JOIN mad USING (event_type)
WHERE mad > 0.0 AND adev > 3.0 * mad
"""

ORACLES["hhi_concentration"] = f"""
WITH per_supp AS (
  SELECT n_name, l_suppkey,
         sum(CAST(floor(CAST(l_extendedprice * (1.0 - l_discount) AS DOUBLE)
                        * 100.0 + 0.5) AS BIGINT)) AS ri
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  GROUP BY n_name, l_suppkey
), shared AS (
  SELECT n_name,
         CAST(ri AS DOUBLE)
         / CAST(sum(ri) OVER (PARTITION BY n_name) AS DOUBLE) AS share
  FROM per_supp
)
SELECT n_name, count(*) AS n_suppliers,
       {sql_sum_fixed("share * share", 8)} AS hhi,
       {_dec("max(share)", 8)} AS top_share
FROM shared GROUP BY n_name
ORDER BY n_name
"""

ORACLES["corr_groups"] = f"""
WITH q AS (
  SELECT l_returnflag,
         CAST(floor(CAST(l_quantity AS DOUBLE) + 0.5) AS BIGINT) AS xi,
         CAST(floor(CAST(l_extendedprice AS DOUBLE) + 0.5) AS BIGINT) AS yi
  FROM lineitem
), m AS (
  SELECT l_returnflag, count(*) AS n, sum(xi) AS sx, sum(yi) AS sy,
         sum(xi * xi) AS sxx, sum(yi * yi) AS syy, sum(xi * yi) AS sxy
  FROM q GROUP BY l_returnflag
), v AS (
  SELECT l_returnflag, n, sx, sy, sxy,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
  FROM m
)
SELECT l_returnflag, n,
       {_dec('''(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / (sqrt(CASE WHEN vx > 0 THEN vx END)
            * sqrt(CASE WHEN vy > 0 THEN vy END))''', 6)}
         AS corr_qty_price
FROM v ORDER BY l_returnflag
"""

ORACLES["events_dau_mau"] = f"""
WITH d AS (
  SELECT DISTINCT CAST(date_trunc('month', ts) AS DATE) AS month,
                  CAST(ts AS DATE) AS day, user_id
  FROM events
),
daily AS (
  SELECT month, day, count(DISTINCT user_id) AS dau FROM d GROUP BY 1, 2
),
a AS (
  SELECT month, CAST(sum(dau) AS DOUBLE) / count(*) AS avg_dau,
         count(*) AS n_days
  FROM daily GROUP BY 1
),
m AS (SELECT month, count(DISTINCT user_id) AS mau FROM d GROUP BY 1)
SELECT month, n_days, {_dec("avg_dau", 4)} AS avg_dau, mau,
       {_dec("avg_dau / mau", 4)} AS stickiness
FROM a JOIN m USING (month)
ORDER BY month
"""

ORACLES["events_funnel"] = """
WITH t1 AS (
  SELECT user_id, min(epoch_us(ts)) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
), t2 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t_click
  FROM events e JOIN t1 USING (user_id)
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > t1.t_view
  GROUP BY e.user_id
), t3 AS (
  SELECT e.user_id, min(epoch_us(e.ts)) AS t_purchase
  FROM events e JOIN t2 USING (user_id)
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > t2.t_click
  GROUP BY e.user_id
), u AS (
  SELECT 1 AS step, 'view' AS step_name, user_id FROM t1
  UNION ALL SELECT 2, 'click', user_id FROM t2
  UNION ALL SELECT 3, 'purchase', user_id FROM t3
)
SELECT step, step_name, count(*) AS n_users FROM u
GROUP BY step, step_name ORDER BY step
"""

ORACLES["retention_cohort"] = """
WITH ev AS (
  SELECT user_id,
         ((epoch_ms(ts) // 1000) // 86400) // 7 AS week
  FROM events
), first AS (
  SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id
)
SELECT cohort_week, week - cohort_week AS weeks_since,
       count(DISTINCT user_id) AS n_active
FROM ev JOIN first USING (user_id)
GROUP BY cohort_week, weeks_since
"""

ORACLES["ngram_topk"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS toks FROM documents),
g AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                               i -> toks[i] || ' ' || toks[i + 1])) AS gram
  FROM toks
)
SELECT gram, count(*) AS n_occurrences FROM g
GROUP BY gram ORDER BY n_occurrences DESC, gram ASC LIMIT 20
"""

ORACLES["dedup_priority"] = f"""
WITH h AS (
  SELECT doc_id, source, md5({NORM}) AS content_md5,
         CAST(regexp_extract(source, '(\\d+)$', 1) AS INT) AS priority
  FROM documents
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY content_md5
                               ORDER BY priority ASC, doc_id ASC) AS rk
  FROM h
)
SELECT doc_id, source, content_md5, priority FROM ranked WHERE rk = 1
"""

ORACLES["event_transitions"] = f"""
WITH pairs AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type,
         event_type AS next_type
  FROM events
), counted AS (
  SELECT prev_type, next_type, count(*) AS n_transitions
  FROM pairs WHERE prev_type IS NOT NULL
  GROUP BY prev_type, next_type
)
SELECT prev_type, next_type, n_transitions,
       {_dec('CAST(n_transitions AS DOUBLE) / sum(n_transitions) OVER (PARTITION BY prev_type)', 6)}
         AS p_transition
FROM counted
"""

ORACLES["group_topk"] = f"""
WITH ranked AS (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id ASC) AS rk
  FROM events
)
SELECT event_type, rk, event_id, {_dec('value', 4)} AS value_r
FROM ranked WHERE rk <= 3
"""

ORACLES["activity_histogram"] = """
WITH per_user AS (
  SELECT user_id,
         count(DISTINCT (epoch_ms(ts) // 1000) // 86400) AS n_active_days
  FROM events GROUP BY user_id
)
SELECT n_active_days, count(*) AS n_users
FROM per_user GROUP BY n_active_days
"""

ORACLES["shuffle_shards"] = f"""
WITH k AS (
  SELECT doc_id, md5('seed42' || ':' || CAST(doc_id AS VARCHAR)) AS sort_key
  FROM documents
), s AS (
  SELECT doc_id, sort_key, ({_hexpoly('sort_key', 1)}) % 8 AS shard
  FROM k
)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY sort_key) AS pos
FROM s
"""

ORACLES["mix_interleave"] = f"""
WITH w AS (
  SELECT doc_id, source,
         1 + (CAST(regexp_extract(source, '(\\d+)$', 1) AS BIGINT) % 3)
           AS weight,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
)
SELECT doc_id, source, rn AS seq_in_source, weight,
       {_dec('(CAST(rn AS DOUBLE) - 1.0 + 0.5) / CAST(weight AS DOUBLE)', 6)}
         AS vpos
FROM w
"""

ORACLES["join_cross"] = """
SELECT r.r_regionkey AS regionkey, r.r_name, n.n_nationkey, n.n_name,
       CAST(n.n_regionkey = r.r_regionkey AS INT) AS is_member
FROM region r CROSS JOIN nation n
"""

ORACLES["agg_filtered_multi"] = f"""
SELECT l_linestatus, count(*) AS n_rows,
       count(*) FILTER (l_returnflag = 'R') AS n_returned,
       {sql_sum_fixed("CASE WHEN l_discount > 0.05 THEN l_quantity END", 2)}
         AS qty_discounted,
       count(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_orderkey END)
         AS orders_returned
FROM lineitem GROUP BY l_linestatus
"""

ORACLES["embedding_quantize"] = """
WITH m AS (
  SELECT vec_id, embedding,
         list_aggregate(list_transform(embedding,
                                       x -> abs(CAST(x AS DOUBLE))),
                        'max') AS maxabs
  FROM embeddings
), q AS (
  SELECT vec_id, maxabs, len(embedding) AS n_dims,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs
                                        + 0.5) AS BIGINT)) AS qv
  FROM m WHERE maxabs > 0
)
SELECT vec_id, n_dims,
       CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
       list_aggregate(qv, 'min') AS q_min,
       list_aggregate(qv, 'max') AS q_max,
       md5(array_to_string(qv, ',')) AS q_md5
FROM q
"""

_GAP_US = P.SESSION_GAP_S * 1_000_000

ORACLES["stream_session"] = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us FROM events
), g AS (
  SELECT user_id, us, event_id,
         CASE WHEN lag(us) OVER w IS NULL
                   OR us - lag(us) OVER w >= {_GAP_US} THEN 1 ELSE 0 END AS brk
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
), s AS (
  SELECT user_id, us,
         sum(brk) OVER (PARTITION BY user_id ORDER BY us, event_id
                        ROWS UNBOUNDED PRECEDING) AS sess
  FROM g
)
SELECT user_id, min(us) AS session_start_us,
       max(us) + {_GAP_US} AS session_end_us,
       count(*) AS n_events
FROM s GROUP BY user_id, sess
"""

_REV = "l_extendedprice * (1.0 - l_discount)"

ORACLES["tpch_q1"] = f"""
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       {sql_sum_fixed("l_extendedprice", 2)} AS sum_base_price,
       {sql_sum_fixed("l_extendedprice * (1.0 - l_discount)", 4)} AS sum_disc_price,
       {sql_sum_fixed("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)", 6)} AS sum_charge,
       sum(l_quantity) / count(*) AS avg_qty,
       ({sql_sum_fixed("l_extendedprice", 2)}) / count(*) AS avg_price,
       ({sql_sum_fixed("l_discount", 2)}) / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

ORACLES["tpch_q4"] = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""

ORACLES["tpch_q6"] = f"""
SELECT {sql_sum_fixed("l_extendedprice * l_discount", 4)} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24.0
"""

ORACLES["tpch_q12"] = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_shipdate >= o_orderdate + INTERVAL 60 DAY
GROUP BY l_linestatus
ORDER BY l_linestatus
"""

ORACLES["tpch_q13"] = """
WITH per_cust AS (
  SELECT o_custkey, count(*) AS n_orders
  FROM orders WHERE o_orderpriority <> '5-LOW'
  GROUP BY o_custkey
), counts AS (
  SELECT coalesce(n_orders, 0) AS c_count
  FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
)
SELECT c_count, count(*) AS custdist
FROM counts GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""

ORACLES["tpch_q14"] = f"""
SELECT (100.0 * ({sql_sum_fixed(f"CASE WHEN p_type = 'PROMO' THEN {_REV} ELSE 0.0 END", 4)}))
       / ({sql_sum_fixed(_REV, 4)}) AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate < TIMESTAMP '1996-10-01'
"""

ORACLES["tpch_q7"] = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       year(l_shipdate) AS l_year,
       {sql_sum_fixed(_REV, 4)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
  AND l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""

ORACLES["tpch_q8"] = f"""
SELECT year(o_orderdate) AS o_year,
       ({sql_sum_fixed(f"CASE WHEN n1.n_name = 'NATION_3' THEN {_REV} ELSE 0.0 END", 4)})
       / ({sql_sum_fixed(_REV, 4)}) AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
JOIN region ON n2.n_regionkey = r_regionkey
WHERE p_type = 'ECONOMY'
  AND r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY o_year
ORDER BY o_year
"""

ORACLES["tpch_q9"] = f"""
SELECT n_name AS nation, year(o_orderdate) AS o_year,
       {sql_sum_fixed("l_extendedprice * (1.0 - l_discount) - 0.1 * p_retailprice * l_quantity", 4)} AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN orders ON l_orderkey = o_orderkey
WHERE p_name LIKE '%bolt%'
GROUP BY n_name, year(o_orderdate)
ORDER BY n_name, o_year DESC
"""

ORACLES["tpch_q15"] = f"""
WITH revenue AS (
  SELECT l_suppkey, {sql_sum_fixed(_REV, 4)} AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""

ORACLES["tpch_q17"] = f"""
WITH tp AS (
  SELECT p_partkey FROM part WHERE p_brand = 'Brand#11' AND p_size <= 10
), li_t AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN tp ON l_partkey = p_partkey
), thresholds AS (
  SELECT l_partkey AS t_partkey,
         0.2 * (sum(l_quantity) / count(*)) AS qty_cap
  FROM li_t GROUP BY l_partkey
)
SELECT ({sql_sum_fixed("l_extendedprice", 2)}) / 7.0 AS avg_yearly
FROM li_t JOIN thresholds ON l_partkey = t_partkey
WHERE l_quantity < qty_cap
"""

ORACLES["tpch_q18"] = """
WITH big AS (
  SELECT l_orderkey, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(sum(l_quantity) AS BIGINT) > 280
)
SELECT c_custkey, c_name, o_orderkey,
       epoch_ms(o_orderdate) // 1000 AS o_orderdate_s,
       o_totalprice, sum_qty
FROM big
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100
"""

ORACLES["tpch_q19"] = f"""
SELECT {sql_sum_fixed(_REV, 4)} AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1.0 AND 11.0)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10.0 AND 20.0)
   OR (p_brand = 'Brand#14' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20.0 AND 30.0)
"""

ORACLES["tpch_q2"] = """
WITH pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
), prt AS (
  SELECT p_partkey, p_name FROM part
  WHERE p_type = 'LARGE' AND p_size <= 25
), supp AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = 'ASIA'
), ranked AS (
  SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
         row_number() OVER (PARTITION BY p_partkey
                            ORDER BY s_acctbal ASC, s_suppkey ASC) AS rn
  FROM pairs
  JOIN prt ON l_partkey = p_partkey
  JOIN supp ON l_suppkey = s_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name
FROM ranked WHERE rn = 1
ORDER BY s_acctbal DESC, p_partkey ASC LIMIT 100
"""

ORACLES["tpch_q11"] = f"""
WITH per_part AS (
  SELECT l_partkey AS p_partkey,
         {sql_sum_fixed("l_quantity * p_retailprice", 2)} AS stock_value
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  JOIN part ON l_partkey = part.p_partkey
  WHERE n_name = 'NATION_1'
  GROUP BY l_partkey
), totals AS (
  SELECT sum(stock_value) AS total_value, count(*) AS n_parts FROM per_part
)
SELECT p_partkey, stock_value
FROM per_part, totals
WHERE stock_value > (2.0 * total_value) / n_parts
ORDER BY stock_value DESC, p_partkey ASC
"""

ORACLES["tpch_q16"] = """
WITH pairs AS (
  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
)
SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey) AS supplier_cnt
FROM pairs
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#25'
  AND p_type <> 'PROMO'
  AND p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
"""

ORACLES["tpch_q20"] = """
WITH li AS (
  SELECT l_partkey, l_suppkey, l_quantity
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%bolt%'
    AND l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1997-01-01'
), per_pair AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS supp_qty
  FROM li GROUP BY l_partkey, l_suppkey
), per_part AS (
  SELECT l_partkey, sum(l_quantity) AS part_qty
  FROM li GROUP BY l_partkey
), dominant AS (
  SELECT DISTINCT l_suppkey
  FROM per_pair JOIN per_part USING (l_partkey)
  WHERE supp_qty > 0.5 * part_qty
)
SELECT s_suppkey, s_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE n_name = 'NATION_1'
  AND s_suppkey IN (SELECT l_suppkey FROM dominant)
ORDER BY s_suppkey
"""

ORACLES["tpch_q21"] = """
WITH li AS (
  SELECT l_orderkey, l_suppkey, l_shipdate
  FROM lineitem
  WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
), per_order AS (
  SELECT l_orderkey, max(l_shipdate) AS mx,
         count(DISTINCT l_suppkey) AS nsupp
  FROM li GROUP BY l_orderkey
), at_max AS (
  SELECT DISTINCT li.l_orderkey, l_suppkey, nsupp
  FROM li JOIN per_order ON li.l_orderkey = per_order.l_orderkey
  WHERE l_shipdate = mx
), sole AS (
  SELECT l_orderkey, nsupp, count(*) AS n_at_max,
         min(l_suppkey) AS the_supp
  FROM at_max GROUP BY l_orderkey, nsupp
)
SELECT s_name, count(*) AS numwait
FROM sole
JOIN supplier ON the_supp = s_suppkey
WHERE n_at_max = 1 AND nsupp > 1
GROUP BY s_name
ORDER BY numwait DESC, s_name ASC LIMIT 100
"""

ORACLES["tpch_q22"] = f"""
WITH avg_bal AS (
  SELECT ({sql_sum_fixed("c_acctbal", 2)}) / count(*) AS ab
  FROM customer WHERE c_acctbal > 0.0
)
SELECT right(c_name, 2) AS cntrycode,
       count(*) AS numcust,
       {sql_sum_fixed("c_acctbal", 2)} AS totacctbal
FROM customer, avg_bal
WHERE right(c_name, 2) IN ('13', '31', '23', '29', '30', '18', '17')
  AND c_acctbal > ab
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY cntrycode
ORDER BY cntrycode
"""

ORACLES["tpch_q3"] = f"""
SELECT o_orderkey, epoch_ms(o_orderdate) // 1000 AS o_orderdate_s,
       o_orderpriority,
       {sql_sum_fixed(_REV, 4)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1997-01-01'
  AND l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC LIMIT 10
"""

ORACLES["tpch_q5"] = f"""
SELECT n_name, {sql_sum_fixed(_REV, 4)} AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON c_nationkey = n_nationkey AND s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""

ORACLES["tpch_q10"] = f"""
WITH r AS (
  SELECT o_custkey, {sql_sum_fixed(_REV, 4)} AS revenue
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1996-07-01'
  GROUP BY o_custkey
)
SELECT c_custkey, c_name, n_name AS nation, revenue
FROM r
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey ASC LIMIT 20
"""

ORACLES["vocab_coverage"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS}) AS term FROM documents
), nz AS (
  SELECT doc_id, term FROM toks WHERE len(term) > 0
), doc_terms AS (
  SELECT doc_id, term, count(*) AS n FROM nz GROUP BY doc_id, term
), vocab AS (
  SELECT term FROM doc_terms GROUP BY term
  ORDER BY sum(n) DESC, term ASC LIMIT 256
), flagged AS (
  SELECT dt.doc_id, dt.n,
         CASE WHEN v.term IS NULL THEN dt.n ELSE 0 END AS oov_n
  FROM doc_terms dt LEFT JOIN vocab v USING (term)
)
SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
       CAST(sum(oov_n) AS BIGINT) AS n_oov,
       {_dec('CAST(sum(oov_n) AS DOUBLE) / sum(n)', 6)} AS oov_rate
FROM flagged GROUP BY doc_id
"""

ORACLES["dedup_containment"] = f"""
WITH {SHINGLES_CTE},
sr AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS sz FROM sr GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_x, b.doc_id AS doc_y, count(*) AS inter
  FROM sr a JOIN sr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
),
sized AS (
  SELECT i.doc_x, i.doc_y, i.inter, x.sz AS sz_x, y.sz AS sz_y
  FROM inter i
  JOIN sizes x ON i.doc_x = x.doc_id
  JOIN sizes y ON i.doc_y = y.doc_id
),
directed AS (
  SELECT doc_x AS doc_contained, doc_y AS doc_container,
         CAST(inter AS DOUBLE) / sz_x AS containment FROM sized
  UNION ALL
  SELECT doc_y, doc_x, CAST(inter AS DOUBLE) / sz_y FROM sized
)
SELECT doc_contained, doc_container,
       {_dec('containment', 4)} AS containment
FROM directed WHERE containment >= {P.CONTAINMENT_THRESHOLD}
"""

# capped-LSH-prefiltered containment: the SAME deterministic capped
# MinHash band candidates as dedup_minhash_capped, then the SAME
# exact containment verify restricted to those pairs — the
# speed/recall dial registered next to the full-recall
# dedup_containment (SCALING.md documents the trade).
ORACLES["dedup_containment_capped"] = f"""
WITH cand AS (SELECT doc_a, doc_b FROM ({_minhash_sql(cap=P.MINHASH_BUCKET_CAP)}) t),
{SHINGLES_CTE},
sr AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
sizes AS (SELECT doc_id, count(*) AS sz FROM sr GROUP BY doc_id),
inter AS (
  SELECT c.doc_a AS doc_x, c.doc_b AS doc_y, count(*) AS inter
  FROM cand c
  JOIN sr a ON a.doc_id = c.doc_a
  JOIN sr b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
  GROUP BY c.doc_a, c.doc_b
),
sized AS (
  SELECT i.doc_x, i.doc_y, i.inter, x.sz AS sz_x, y.sz AS sz_y
  FROM inter i
  JOIN sizes x ON i.doc_x = x.doc_id
  JOIN sizes y ON i.doc_y = y.doc_id
),
directed AS (
  SELECT doc_x AS doc_contained, doc_y AS doc_container,
         CAST(inter AS DOUBLE) / sz_x AS containment FROM sized
  UNION ALL
  SELECT doc_y, doc_x, CAST(inter AS DOUBLE) / sz_y FROM sized
)
SELECT doc_contained, doc_container,
       {_dec('containment', 4)} AS containment
FROM directed WHERE containment >= {P.CONTAINMENT_THRESHOLD}
"""

# the containment AUTO-DIAL (r14): replicate the pick statistic —
# V = Σ_s prefix_postings(s)·full_postings(s), the exact arm's
# pre-prune join cardinality, pure integer arithmetic — then CASE
# between the two arm SQLs verbatim. The ranked/prefix CTE mirrors
# dedup._rank_by_rarity/_prefix_cond exactly (df-asc, shingle-asc
# rank within doc; pos ≤ sz − ceil(t·sz − 1e-9) + 1), so the DIAL
# DECISION is value-checked alongside the picked arm's rows.
ORACLES["dedup_containment_auto"] = f"""
WITH {SHINGLES_CTE},
sr AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
dfr AS (SELECT shingle, count(*) AS df FROM sr GROUP BY shingle),
ranked AS (
  SELECT s.doc_id, s.shingle, d.df,
         row_number() OVER (PARTITION BY s.doc_id
                            ORDER BY d.df ASC, s.shingle ASC) AS pos,
         count(*) OVER (PARTITION BY s.doc_id) AS sz
  FROM sr s JOIN dfr d USING (shingle)
),
pc AS (
  SELECT shingle, count(*) AS p FROM ranked
  WHERE pos <= sz - ceil({P.CONTAINMENT_THRESHOLD} * sz - 1e-9) + 1
  GROUP BY shingle
),
stat AS (
  SELECT COALESCE(SUM(pc.p * d.df), 0)
         <= {P.CONTAINMENT_AUTO_MAX_PAIRS_PER_DOC}
            * (SELECT count(*) FROM documents) AS take_exact
  FROM pc JOIN dfr d USING (shingle)
)
SELECT * FROM ({{exact}}) e WHERE (SELECT take_exact FROM stat)
UNION ALL
SELECT * FROM ({{capped}}) c WHERE NOT (SELECT take_exact FROM stat)
""".format(
    exact=ORACLES["dedup_containment"],
    capped=ORACLES["dedup_containment_capped"],
)

# hybrid retrieval: lexical (rational-idf overlap) + vector (cosine)
# arms, each top-HYBRID_ARM_K per query, fused by reciprocal-rank
# fusion. The lexical score is an order-independent fixed_sum (the
# per-term idf doubles quantize to integers before aggregation —
# a plain double sum could rank-flip between engines); ranking
# happens on the RAW rrf double (two IEEE divisions + one addition
# — exactly specified, identical in both engines); only the OUTPUT
# is fixed-point rounded.
_HQ = ", ".join(str(int(q)) for q in P.ANN_QUERY_IDS)
ORACLES["hybrid_search_rrf"] = f"""
WITH corpus AS (
  SELECT d.doc_id, {NORM} AS norm, e.embedding
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
),
q AS (SELECT doc_id AS query_id, norm AS q_norm, embedding AS q_emb
      FROM corpus WHERE doc_id IN ({_HQ})),
cand AS (SELECT * FROM corpus WHERE doc_id NOT IN ({_HQ})),
terms AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM cand
  ) WHERE length(term) > 0
),
dfs AS (SELECT term, count(*) AS df FROM terms GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM cand),
qterms AS (
  SELECT DISTINCT query_id, term FROM (
    SELECT query_id, unnest(string_split(q_norm, ' ')) AS term FROM q
  ) WHERE length(term) > 0
),
lex AS (
  SELECT qt.query_id, t.doc_id,
         {sql_sum_fixed("(n.n_docs - dfs.df + 0.5) / (dfs.df + 0.5)", 6)} AS lex
  FROM terms t
  JOIN qterms qt USING (term)
  JOIN dfs USING (term), n
  GROUP BY qt.query_id, t.doc_id
),
lext AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY lex DESC, doc_id ASC) AS lex_rank
  FROM lex QUALIFY lex_rank <= {P.HYBRID_ARM_K}
),
cv AS (
  SELECT doc_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM cand
),
cvn AS (
  SELECT doc_id, v,
         sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
  FROM cv
),
qv AS (
  SELECT query_id, list_transform(q_emb, x -> CAST(x AS DOUBLE)) AS qv
  FROM q
),
qvn AS (
  SELECT query_id, qv,
         sqrt(list_sum(list_transform(qv, x -> x * x))) AS qn
  FROM qv
),
vec AS (
  SELECT b.query_id, a.doc_id,
         {_dec(
             "list_sum(list_transform(range(1, 65),"
             " i -> a.v[i] * b.qv[i])) / (a.nrm * b.qn)",
             4,
         )} AS cos
  FROM cvn a, qvn b
  WHERE a.nrm > 0 AND b.qn > 0
),
vect AS (
  SELECT query_id, doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, doc_id ASC) AS vec_rank
  FROM vec QUALIFY vec_rank <= {P.HYBRID_ARM_K}
),
fused AS (
  SELECT coalesce(l.query_id, v.query_id) AS query_id,
         coalesce(l.doc_id, v.doc_id) AS doc_id,
         l.lex_rank, v.vec_rank
  FROM lext l FULL OUTER JOIN vect v
    ON l.query_id = v.query_id AND l.doc_id = v.doc_id
),
scored AS (
  SELECT query_id, doc_id, lex_rank, vec_rank,
         (CASE WHEN lex_rank IS NOT NULL
               THEN 1.0 / ({P.RRF_K} + lex_rank) ELSE 0.0 END)
       + (CASE WHEN vec_rank IS NOT NULL
               THEN 1.0 / ({P.RRF_K} + vec_rank) ELSE 0.0 END) AS rrf_raw
  FROM fused
)
SELECT query_id, doc_id,
       CAST(lex_rank AS INT) AS lex_rank,
       CAST(vec_rank AS INT) AS vec_rank,
       {_dec("rrf_raw", 6)} AS rrf,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY rrf_raw DESC, doc_id ASC)
            AS INT) AS "rank"
FROM scored
QUALIFY "rank" <= {P.HYBRID_TOP_K}
"""

# bipartite ingest-time embedding dedup: new 20% slice vs the 80%
# corpus, zero-norm guard matching cosine_pairs_bipartite's
# non-finite mask
ORACLES["dedup_embedding_incremental"] = f"""
WITH {_EMB_CTE.strip()},
p AS (
  SELECT a.vec_id AS new_id, b.vec_id AS corpus_id,
         {_dec(f"{_DOT} / (a.nrm * b.nrm)", 4)} AS cosine
  FROM n a JOIN n b
    ON a.vec_id % 10 >= 8 AND b.vec_id % 10 < 8
  WHERE a.nrm > 0 AND b.nrm > 0
)
SELECT new_id, corpus_id, cosine FROM p
WHERE cosine >= {P.COSINE_THRESHOLD}
"""

# exact duplicated-span detection: gram posting list (df >= 2) +
# per-doc gap-islands merge — mirrors dedup.duplicated_spans
_SPK = P.SPAN_NGRAM_K
ORACLES["dedup_spans"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS toks FROM documents),
gl AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) - {_SPK} + 2),
           i -> md5(array_to_string(toks[i:i+{_SPK - 1}], ' '))) AS gs
  FROM toks WHERE len(toks) >= {_SPK}
),
grams AS (
  SELECT doc_id, unnest(gs) AS gram,
         generate_subscripts(gs, 1) - 1 AS pos
  FROM gl
),
dup AS (
  SELECT gram FROM (
    SELECT gram, count(DISTINCT doc_id) AS nd FROM grams GROUP BY gram
  ) WHERE nd >= 2
),
marked AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gram)),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                OR pos > lag(pos) OVER w + {_SPK}
              THEN 1 ELSE 0 END AS new_span
  FROM marked WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sp AS (
  SELECT doc_id, pos,
         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
  FROM isl
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {_SPK - 1} AS BIGINT) AS span_end,
       CAST(max(pos) + {_SPK} - min(pos) AS BIGINT) AS span_tokens
FROM sp GROUP BY doc_id, span_id
"""

# within-document repeated spans: grams occurring >= 2 times in the
# SAME doc + the shared gap-islands merge — mirrors
# dedup.intra_doc_duplicated_spans
ORACLES["dedup_spans_intra"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS toks FROM documents),
gl AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) - {_SPK} + 2),
           i -> md5(array_to_string(toks[i:i+{_SPK - 1}], ' '))) AS gs
  FROM toks WHERE len(toks) >= {_SPK}
),
grams AS (
  SELECT doc_id, unnest(gs) AS gram,
         generate_subscripts(gs, 1) - 1 AS pos
  FROM gl
),
rep AS (
  SELECT doc_id, gram FROM (
    SELECT doc_id, gram, count(*) AS n FROM grams GROUP BY doc_id, gram
  ) WHERE n >= 2
),
marked AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN rep USING (doc_id, gram)
),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                OR pos > lag(pos) OVER w + {_SPK}
              THEN 1 ELSE 0 END AS new_span
  FROM marked WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sp AS (
  SELECT doc_id, pos,
         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
  FROM isl
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {_SPK - 1} AS BIGINT) AS span_end,
       CAST(max(pos) + {_SPK} - min(pos) AS BIGINT) AS span_tokens
FROM sp GROUP BY doc_id, span_id
"""

ORACLES["decontam_spans"] = f"""
WITH toks AS (SELECT doc_id, {TOKS} AS toks FROM documents),
gl AS (
  SELECT doc_id,
         list_transform(range(1, len(toks) - {_SPK} + 2),
           i -> md5(array_to_string(toks[i:i+{_SPK - 1}], ' '))) AS gs
  FROM toks WHERE len(toks) >= {_SPK}
),
grams AS (
  SELECT doc_id, unnest(gs) AS gram,
         generate_subscripts(gs, 1) - 1 AS pos
  FROM gl
),
ev AS (
  SELECT DISTINCT gram FROM grams WHERE doc_id < {P.EVAL_DOC_MAX}
),
marked AS (
  SELECT g.doc_id, g.pos FROM grams g JOIN ev USING (gram)
  WHERE g.doc_id >= {P.EVAL_DOC_MAX}
),
isl AS (
  SELECT doc_id, pos,
         CASE WHEN lag(pos) OVER w IS NULL
                OR pos > lag(pos) OVER w + {_SPK}
              THEN 1 ELSE 0 END AS new_span
  FROM marked WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
),
sp AS (
  SELECT doc_id, pos,
         sum(new_span) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
  FROM isl
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {_SPK - 1} AS BIGINT) AS span_end,
       CAST(max(pos) + {_SPK} - min(pos) AS BIGINT) AS span_tokens
FROM sp GROUP BY doc_id, span_id
"""


ORACLES["snapshot_diff"] = """
WITH base AS (
  SELECT o_orderkey,
         md5(o_orderstatus || '|' ||
             CAST(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100 + 0.5)
                       AS BIGINT) AS VARCHAR) || '|' ||
             o_orderpriority) AS fp,
         md5(o_orderstatus || '|' ||
             CAST(CAST(floor((CAST(o_totalprice AS DOUBLE) + 1.0) * 100 + 0.5)
                       AS BIGINT) AS VARCHAR) || '|' ||
             o_orderpriority) AS fp_bumped
  FROM orders
), v1 AS (
  SELECT o_orderkey AS k1, fp AS fp1 FROM base WHERE o_orderkey % 11 <> 0
), v2 AS (
  SELECT o_orderkey AS k2,
         CASE WHEN o_orderkey % 5 = 0 THEN fp_bumped ELSE fp END AS fp2
  FROM base WHERE o_orderkey % 13 <> 0
), j AS (
  SELECT coalesce(k1, k2) AS o_orderkey,
         CASE WHEN k1 IS NULL THEN 'added'
              WHEN k2 IS NULL THEN 'removed'
              WHEN fp1 <> fp2 THEN 'changed'
              ELSE 'unchanged' END AS change_type
  FROM v1 FULL OUTER JOIN v2 ON k1 = k2
)
SELECT o_orderkey, change_type FROM j WHERE change_type <> 'unchanged'
"""

ORACLES["resample_ffill"] = f"""
WITH e AS (
  SELECT user_id, (epoch_ms(ts) // 1000) // 3600 AS hr,
         CAST(floor(CAST(value AS DOUBLE) * 100 + 0.5) AS BIGINT) AS qv
  FROM events
), observed AS (
  SELECT user_id, hr, count(*) AS n_events, sum(qv) AS qs
  FROM e GROUP BY user_id, hr
), spans AS (
  SELECT user_id, min(hr) AS hr_min, max(hr) AS hr_max FROM e GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(hr_min, hr_max)) AS hr FROM spans
), j AS (
  SELECT g.user_id, g.hr, o.n_events, o.qs
  FROM grid g LEFT JOIN observed o ON g.user_id = o.user_id AND g.hr = o.hr
)
SELECT user_id, hr, coalesce(n_events, 0) AS n_events,
       {_dec('''CAST(last_value(qs IGNORE NULLS)
              OVER (PARTITION BY user_id ORDER BY hr
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE) / 100.0''', 2)} AS ffill_sum
FROM j
"""

ORACLES["ab_ttest"] = f"""
WITH q AS (
  SELECT ({_hexpoly("md5('ab1' || '|' || CAST(user_id AS VARCHAR))", 1)}) % 2
           AS arm,
         CAST(floor(CAST(value AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS vi
  FROM events
), m AS (
  SELECT count(*) FILTER (arm = 0) AS n_a,
         count(*) FILTER (arm = 1) AS n_b,
         sum(vi) FILTER (arm = 0) AS sx_a,
         sum(vi) FILTER (arm = 1) AS sx_b,
         sum(vi * vi) FILTER (arm = 0) AS sxx_a,
         sum(vi * vi) FILTER (arm = 1) AS sxx_b
  FROM q
), d AS (
  SELECT n_a, n_b,
         CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE) / 10000.0 AS mu_a,
         CAST(sx_b AS DOUBLE) / CAST(n_b AS DOUBLE) / 10000.0 AS mu_b,
         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
         CAST(sxx_a AS DOUBLE) AS xa, CAST(sxx_b AS DOUBLE) AS xb
  FROM m
)
, s AS (
  SELECT *,
         ((xa / 10000.0 / 10000.0 - na * mu_a * mu_a) / (na - 1.0)) / na
       + ((xb / 10000.0 / 10000.0 - nb * mu_b * mu_b) / (nb - 1.0)) / nb
           AS se2
  FROM d
)
SELECT n_a, n_b,
       {_dec('mu_a', 6)} AS mean_a, {_dec('mu_b', 6)} AS mean_b,
       {_dec('''(mu_a - mu_b)
                / sqrt(CASE WHEN na > 1 AND nb > 1 AND se2 > 0
                            THEN se2 END)''', 6)}
         AS t_stat
FROM s
"""

ORACLES["agg_string_concat"] = """
SELECT user_id,
       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types_csv,
       count(*) AS n_events
FROM events GROUP BY user_id
"""

ORACLES["rolling_active"] = """
WITH pairs AS (
  SELECT DISTINCT user_id, (epoch_ms(ts) // 1000) // 86400 AS day FROM events
), span AS (
  SELECT min((epoch_ms(ts) // 1000) // 86400) AS d0,
         max((epoch_ms(ts) // 1000) // 86400) AS d1
  FROM events
), contrib AS (
  SELECT user_id, unnest(generate_series(day, day + 6)) AS window_day
  FROM pairs
)
SELECT window_day, count(DISTINCT user_id) AS n_active
FROM contrib, span
WHERE window_day >= d0 AND window_day <= d1
GROUP BY window_day
"""

ORACLES["inverted_index"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS}) AS term FROM documents
), pairs AS (
  SELECT DISTINCT doc_id, term FROM toks WHERE len(term) > 0
)
SELECT term, count(*) AS df_total,
       array_to_string(
         list_transform(list_sort(list(doc_id))[1:16],
                        d -> CAST(d AS VARCHAR)), ',') AS postings_csv
FROM pairs GROUP BY term
"""

ORACLES["term_pmi"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS}) AS term FROM documents
), terms AS (
  SELECT DISTINCT doc_id, term FROM toks WHERE len(term) > 0
), vocab AS (
  SELECT term, count(*) AS df FROM terms GROUP BY term
  ORDER BY df DESC, term ASC LIMIT 64
), tv AS (
  SELECT t.doc_id, t.term FROM terms t JOIN vocab USING (term)
), pair_docs AS (
  SELECT a.term AS term_a, b.term AS term_b, count(*) AS n_pair
  FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING count(*) >= 5
), nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
SELECT term_a, term_b, n_pair,
       {_dec('''CAST(n_pair AS DOUBLE) * CAST(n_docs AS DOUBLE)
          / CAST(va.df AS DOUBLE) / CAST(vb.df AS DOUBLE)''', 6)} AS lift
FROM pair_docs
JOIN vocab va ON term_a = va.term
JOIN vocab vb ON term_b = vb.term
CROSS JOIN nd
ORDER BY lift DESC, term_a ASC, term_b ASC LIMIT 50
"""

ORACLES["skew_stats"] = f"""
WITH counts AS (
  SELECT l_orderkey, count(*) AS cnt FROM lineitem GROUP BY l_orderkey
), top AS (
  SELECT sum(cnt) AS top_mass
  FROM (SELECT cnt FROM counts ORDER BY cnt DESC, l_orderkey ASC LIMIT 5)
)
SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
       max(cnt) AS max_group,
       {_dec('quantile_cont(cnt, 0.5)', 6)} AS p50_group,
       {_dec('quantile_cont(cnt, 0.99)', 6)} AS p99_group,
       {_dec('CAST(top_mass AS DOUBLE) / sum(cnt)', 6)} AS top5_share
FROM counts, top
GROUP BY top_mass
"""

ORACLES["window_cumdistinct"] = """
WITH flagged AS (
  SELECT event_id, user_id, ts,
         CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS is_first
  FROM events
)
SELECT event_id, user_id,
       CAST(sum(is_first) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW)
            AS BIGINT) AS n_types_seen
FROM flagged
"""

ORACLES["curation_pipeline"] = f"""
WITH q AS (
  SELECT doc_id, n_tokens, quality FROM ({_quality_sql()}) _q
), kept AS (
  SELECT d.doc_id, d.source, d.text, q.n_tokens, q.quality
  FROM documents d JOIN q USING (doc_id)
  WHERE q.quality >= 0.75
), hashed AS (
  SELECT *, md5({NORM}) AS content_md5,
         row_number() OVER (PARTITION BY md5({NORM}) ORDER BY doc_id) AS rk
  FROM kept
), split AS (
  SELECT doc_id, source, n_tokens, quality,
         CAST(({_hexpoly("md5('v1' || '|' || CAST(doc_id AS VARCHAR))", 1)}) % 100
              AS INT) AS bucket
  FROM hashed WHERE rk = 1
)
SELECT doc_id, source, n_tokens, quality, bucket
FROM split WHERE bucket < 90
"""


# ------------------------------------------------ round-5 session additions

def _hashed_slot_cte(dim: int) -> str:
    """token → md5-hex-prefix slot → per-(doc, lang, slot) counts —
    the DuckDB twin of ``textstats.hashed_slot_counts``, single-
    sourced for the dsir_weights / rocchio_classify oracles so the
    hash scheme cannot drift from the Spark kernel."""
    return f"""tok AS (
  SELECT doc_id, lang, unnest({TOKS}) AS tok FROM documents
), sl AS (
  SELECT doc_id, lang,
         CAST({_hexpoly("md5(tok)", 1)} % {dim} AS INT) AS slot
  FROM tok WHERE length(tok) > 0
), doc_counts AS (
  SELECT doc_id, lang, slot, CAST(count(*) AS BIGINT) AS n
  FROM sl GROUP BY doc_id, lang, slot
)"""


_DSIR_D = float(P.DSIR_HASH_DIM / 2.0)
ORACLES["dsir_weights"] = f"""
WITH {_hashed_slot_cte(P.DSIR_HASH_DIM)},
slots AS (
  SELECT slot, CAST(sum(n) AS BIGINT) AS c_raw,
         CAST(sum(CASE WHEN lang = '{P.DSIR_TARGET_LANG}' THEN n
                       ELSE 0 END) AS BIGINT) AS c_tgt
  FROM doc_counts GROUP BY slot
), model AS (
  SELECT slot,
         CAST(floor(
           ((CAST(c_tgt AS DOUBLE) + 0.5)
              / (CAST(sum(c_tgt) OVER () AS DOUBLE) + {_DSIR_D!r}))
           * ((CAST(sum(c_raw) OVER () AS DOUBLE) + {_DSIR_D!r})
              / (CAST(c_raw AS DOUBLE) + 0.5))
           * 1000000.0 + 0.5) AS BIGINT) AS q_ratio
  FROM slots
)
SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_tokens,
       {_dec("CAST(sum(n * q_ratio) AS DOUBLE) / 1000000.0 / sum(n)", 6)}
         AS dsir_weight
FROM doc_counts JOIN model USING (slot)
GROUP BY doc_id
"""

_ROC_D = float(P.ROCCHIO_HASH_DIM / 2.0)
ORACLES["rocchio_classify"] = f"""
WITH {_hashed_slot_cte(P.ROCCHIO_HASH_DIM)},
dcl AS (SELECT * FROM doc_counts WHERE lang IS NOT NULL),
cnt AS (
  SELECT lang AS cls, slot, CAST(sum(n) AS BIGINT) AS c
  FROM dcl GROUP BY lang, slot
), cls AS (
  SELECT cls, CAST(sum(c) AS BIGINT) AS n_cls FROM cnt GROUP BY cls
), grid AS (
  SELECT cls, n_cls, CAST(r.range AS INT) AS slot
  FROM cls, range({P.ROCCHIO_HASH_DIM}) r
), model AS (
  SELECT g.cls, g.slot,
         CAST(floor(
           (CAST(coalesce(c.c, 0) AS DOUBLE) + 0.5)
             / (CAST(g.n_cls AS DOUBLE) + {_ROC_D!r})
           * 1000000000.0 + 0.5) AS BIGINT) AS q_p
  FROM grid g LEFT JOIN cnt c ON c.cls = g.cls AND c.slot = g.slot
), scored AS (
  SELECT dc.doc_id, dc.lang, m.cls,
         CAST(sum(dc.n) AS BIGINT) AS n_tokens,
         CAST(sum(dc.n * m.q_p) AS BIGINT) AS s
  FROM dcl dc JOIN model m ON m.slot = dc.slot
  GROUP BY dc.doc_id, dc.lang, m.cls
), rk AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY s DESC, cls ASC) AS rnk
  FROM scored
)
SELECT doc_id, lang AS lang_true, cls AS lang_pred, n_tokens,
       {_dec("CAST(s AS DOUBLE) / 1000000000.0 / n_tokens", 6)} AS score
FROM rk WHERE rnk = 1
"""


def _mmr_rounds() -> str:
    """the unrolled greedy-MMR rounds — mirrors
    ``retrieval._greedy_mmr`` round for round (the bpe_train unroll
    pattern), over CTEs named ``pool`` (query_id, doc_id, rel_i) and
    ``pairs`` (query_id, a_id, b_id, sim_i). ONE text shared by the
    mmr_rerank and hybrid_mmr oracles, exactly as the Spark greedy
    kernel is shared by the two entry points."""
    parts = [
        f"""s1 AS (
  SELECT query_id, doc_id, rel_i, 1 AS pick_order,
         {P.MMR_W_REL} * rel_i - {P.MMR_W_DIV} * 0 AS mmr_i
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY {P.MMR_W_REL} * rel_i DESC,
                                              doc_id) AS rn
        FROM pool)
  WHERE rn = 1
), sel1 AS (SELECT query_id, doc_id, rel_i, pick_order, mmr_i FROM s1)"""
    ]
    for r in range(2, P.MMR_SELECT_K + 1):
        parts.append(f""",
r{r} AS (
  SELECT p.query_id, p.doc_id, p.rel_i,
         {P.MMR_W_REL} * p.rel_i - {P.MMR_W_DIV} * max(pr.sim_i) AS mmr_i
  FROM pool p
  JOIN pairs pr ON pr.query_id = p.query_id AND pr.a_id = p.doc_id
  JOIN sel{r - 1} s ON s.query_id = pr.query_id AND s.doc_id = pr.b_id
  WHERE NOT EXISTS (SELECT 1 FROM sel{r - 1} x
                    WHERE x.query_id = p.query_id
                      AND x.doc_id = p.doc_id)
  GROUP BY p.query_id, p.doc_id, p.rel_i
),
s{r} AS (
  SELECT query_id, doc_id, rel_i, {r} AS pick_order, mmr_i
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY mmr_i DESC, doc_id) AS rn
        FROM r{r})
  WHERE rn = 1
),
sel{r} AS (SELECT * FROM sel{r - 1}
           UNION ALL
           SELECT query_id, doc_id, rel_i, pick_order, mmr_i FROM s{r})""")
    return "".join(parts)


def _mmr_sql() -> str:
    """unrolled greedy MMR — mirrors ``retrieval.mmr_rerank``: the
    same 1e-6 integer similarities and params-derived integer
    weights, one chained CTE pair per greedy round."""
    qids = sql_in_list(P.ANN_QUERY_IDS)
    sim = _MMR_SIM
    return f"""WITH {_EMB_CTE.strip()},
pool AS (
  SELECT query_id, doc_id, rel_i FROM (
    SELECT query_id, doc_id, rel_i,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY rel_i DESC, doc_id) AS rn
    FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS doc_id, {sim} AS rel_i
      FROM n a JOIN n b ON a.vec_id <> b.vec_id
      WHERE a.vec_id IN ({qids})
    ) WHERE rel_i IS NOT NULL
  ) WHERE rn <= {P.MMR_POOL_K}
),
pairs AS (
  SELECT p1.query_id, p1.doc_id AS a_id, p2.doc_id AS b_id, {sim} AS sim_i
  FROM pool p1
  JOIN pool p2 ON p1.query_id = p2.query_id AND p1.doc_id <> p2.doc_id
  JOIN n a ON a.vec_id = p1.doc_id
  JOIN n b ON b.vec_id = p2.doc_id
),
{_mmr_rounds()}
SELECT query_id, doc_id, CAST(pick_order AS INT) AS pick_order,
       CAST(rel_i AS DOUBLE) / 1000000.0 AS relevance,
       CAST(mmr_i AS DOUBLE) / {P.MMR_FIXED_SCALE!r} AS mmr
FROM sel{P.MMR_SELECT_K}"""


ORACLES["mmr_rerank"] = _mmr_sql()
# the POOL auto-dial entry point (r13 verdict item 4): delegation is
# verbatim and params-deterministic — at the registered defaults
# (|ANN_QUERY_IDS| = 5 < ivf_pool_min_queries(16, 8) = 32) it runs
# the brute arm, so the oracle IS mmr_rerank's SQL; the crossover
# boundary is pinned on both sides in tests/test_property.py
ORACLES["mmr_rerank_auto"] = _mmr_sql()

# the IVF-pool composition (round 12): the SAME unroll over a pool
# retrieved by the parametrized IVF SQL — relevance requantizes the
# IVF arm's 1e-4 cosine onto the kernel's 1e-6 grid (exact in both
# engines: floor of a 1e-4-grid double times 1e6 plus 0.5)
ORACLES["mmr_rerank_ivf"] = f"""WITH {_EMB_CTE.strip()},
ivfpool AS (SELECT * FROM ({_ivf_sql(P.MMR_POOL_K)}) t),
pool AS (
  SELECT query_id, neighbor_id AS doc_id,
         CAST(floor(cosine * 1000000.0 + 0.5) AS BIGINT) AS rel_i
  FROM ivfpool WHERE cosine IS NOT NULL
),
pairs AS (
  SELECT p1.query_id, p1.doc_id AS a_id, p2.doc_id AS b_id, {_MMR_SIM} AS sim_i
  FROM pool p1
  JOIN pool p2 ON p1.query_id = p2.query_id AND p1.doc_id <> p2.doc_id
  JOIN n a ON a.vec_id = p1.doc_id
  JOIN n b ON b.vec_id = p2.doc_id
),
{_mmr_rounds()}
SELECT query_id, doc_id, CAST(pick_order AS INT) AS pick_order,
       CAST(rel_i AS DOUBLE) / 1000000.0 AS relevance,
       CAST(mmr_i AS DOUBLE) / {P.MMR_FIXED_SCALE!r} AS mmr
FROM sel{P.MMR_SELECT_K}"""

ORACLES["hybrid_mmr"] = f"""
WITH hybrid AS (SELECT * FROM ({ORACLES["hybrid_search_rrf"]}) t),
pool AS (
  SELECT query_id, doc_id,
         CAST(floor(rrf / max(rrf) OVER (PARTITION BY query_id)
              * 1000000.0 + 0.5) AS BIGINT) AS rel_i
  FROM hybrid
),
{_EMB_CTE.strip()},
pairs AS (
  SELECT p1.query_id, p1.doc_id AS a_id, p2.doc_id AS b_id,
         {_MMR_SIM} AS sim_i
  FROM pool p1
  JOIN pool p2 ON p1.query_id = p2.query_id AND p1.doc_id <> p2.doc_id
  JOIN n a ON a.vec_id = p1.doc_id
  JOIN n b ON b.vec_id = p2.doc_id
),
{_mmr_rounds()}
SELECT query_id, doc_id, CAST(pick_order AS INT) AS pick_order,
       CAST(rel_i AS DOUBLE) / 1000000.0 AS rel_norm,
       CAST(mmr_i AS DOUBLE) / {P.MMR_FIXED_SCALE!r} AS mmr
FROM sel{P.MMR_SELECT_K}
"""


_DSIR_QREF = int(P.DSIR_RESAMPLE_REF * 1_000_000)
ORACLES["dsir_resample"] = f"""
WITH w AS ({ORACLES["dsir_weights"]})
SELECT doc_id, n_tokens, dsir_weight,
       ({_hexpoly(
           "md5('" + P.DSIR_RESAMPLE_SALT + "' || '|' || CAST(doc_id AS VARCHAR))",
           1,
       )}) * {_DSIR_QREF}
         < 4294967296 * least(
             CAST(floor(CAST(dsir_weight AS DOUBLE)
                        * 1000000.0 + 0.5) AS BIGINT),
             CAST({_DSIR_QREF} AS BIGINT))
         AS accepted
FROM w
"""


_WINNOW_B = 1 << 31
ORACLES["fingerprint_winnow"] = f"""
WITH t AS (
  SELECT doc_id, {TOKS} AS toks FROM documents
), gr AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {P.SPAN_NGRAM_K}
              THEN list_transform(
                     range(1, len(toks) - {P.SPAN_NGRAM_K} + 2),
                     i -> array_to_string(
                       toks[i:i + {P.SPAN_NGRAM_K} - 1], ' '))
              ELSE CAST([] AS VARCHAR[]) END AS grams
  FROM t
), u AS (
  -- zipped unnests: generate_subscripts aligns with unnest per row
  -- (DuckDB's range() cannot take lateral column parameters)
  SELECT doc_id,
         CAST(generate_subscripts(grams, 1) - 1 AS BIGINT) AS pos,
         unnest(grams) AS raw
  FROM gr
), g AS (
  SELECT doc_id, pos, {_hexpoly("md5(raw)", 1)} AS h FROM u
), wins AS (
  SELECT doc_id, pos,
         min(h * {_WINNOW_B} - pos)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN {P.WINNOW_W - 1} PRECEDING
                 AND CURRENT ROW) AS sel
  FROM g
), fps AS (
  SELECT doc_id, sel, CAST(count(*) AS BIGINT) AS n_wins
  FROM wins WHERE pos >= {P.WINNOW_W - 1}
  GROUP BY doc_id, sel
), decoded AS (
  SELECT doc_id, n_wins,
         (sel + {_WINNOW_B - 1}) // {_WINNOW_B} AS fp_h
  FROM fps
), doc_h AS (
  SELECT DISTINCT doc_id, fp_h FROM decoded
), shared AS (
  SELECT fp_h FROM doc_h GROUP BY fp_h HAVING count(*) >= 2
), sc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shared_fp
  FROM doc_h JOIN shared USING (fp_h) GROUP BY doc_id
), pd AS (
  SELECT doc_id, CAST(sum(n_wins) AS BIGINT) AS n_windows,
         CAST(count(*) AS BIGINT) AS n_fp
  FROM decoded GROUP BY doc_id
)
SELECT pd.doc_id, pd.n_windows, pd.n_fp,
       CAST(coalesce(sc.n_shared_fp, 0) AS BIGINT) AS n_shared_fp
FROM pd LEFT JOIN sc USING (doc_id)
"""


def _poisson_case() -> str:
    """inverse-CDF weight lookup — same pre-computed u32 thresholds
    as the Spark CASE chain (params.POISSON1_CDF_U32)."""
    whens = " ".join(
        f"WHEN u32 < {t} THEN {k}"
        for k, t in enumerate(P.POISSON1_CDF_U32)
    )
    return f"CASE {whens} ELSE {len(P.POISSON1_CDF_U32)} END"


ORACLES["bootstrap_ci"] = f"""
WITH r AS (
  SELECT event_id,
         CAST(floor(CAST(value AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS vi,
         CAST(t.range AS BIGINT) AS rep
  FROM events, range(0, {P.BOOTSTRAP_B}) t
  WHERE value IS NOT NULL
), d AS (
  SELECT rep, vi,
         {_hexpoly(
             "md5('" + P.BOOTSTRAP_SALT
             + "' || '|' || CAST(rep AS VARCHAR)"
             + " || '|' || CAST(event_id AS VARCHAR))",
             1,
         )} AS u32
  FROM r
), wgt AS (
  SELECT rep, vi, CAST({_poisson_case()} AS BIGINT) AS w FROM d
), per AS (
  SELECT rep,
         CAST(sum(w) AS BIGINT) AS n_w,
         CAST(sum(w * vi) AS BIGINT) AS s,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(vi) AS BIGINT) AS tot
  FROM wgt GROUP BY rep
), m AS (
  SELECT rep, n, tot,
         CASE WHEN n_w <> 0
              THEN {_dec("CAST(s AS DOUBLE) / n_w / 10000.0", 6)} END
           AS mean_rep
  FROM per
), rkd AS (
  SELECT *, row_number() OVER (ORDER BY mean_rep ASC NULLS LAST,
                               rep ASC) AS rk
  FROM m
)
SELECT CAST(max(n) AS BIGINT) AS n_rows,
       CAST({P.BOOTSTRAP_B} AS BIGINT) AS n_replicates,
       {_dec("CAST(max(tot) AS DOUBLE) / max(n) / 10000.0", 6)}
         AS point_mean,
       max(CASE WHEN rk = 2 THEN mean_rep END) AS boot_lo,
       max(CASE WHEN rk = {P.BOOTSTRAP_B - 1} THEN mean_rep END)
         AS boot_hi
FROM rkd
"""


ORACLES["ab_cuped"] = f"""
WITH base AS (
  SELECT user_id,
         ({_hexpoly("md5('ab1' || '|' || CAST(user_id AS VARCHAR))", 1)}) % 2
           AS arm,
         ts <= TIMESTAMP '{P.STREAM_SPLIT_TS}' AS pre,
         CAST(floor(CAST(value AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS vi
  FROM events
), pu AS (
  SELECT arm,
         CAST(floor(CAST(sum(vi) FILTER (pre) AS DOUBLE)
                    / count(*) FILTER (pre) / 10000.0
                    * 10000.0 + 0.5) AS BIGINT) AS qx,
         CAST(floor(CAST(sum(vi) FILTER (NOT pre) AS DOUBLE)
                    / count(*) FILTER (NOT pre) / 10000.0
                    * 10000.0 + 0.5) AS BIGINT) AS qy
  FROM base GROUP BY user_id, arm
  HAVING count(*) FILTER (pre) > 0 AND count(*) FILTER (NOT pre) > 0
), m AS (
  SELECT CAST(count(*) FILTER (arm = 0) AS BIGINT) AS n_a,
         CAST(count(*) FILTER (arm = 1) AS BIGINT) AS n_b,
         CAST(sum(qx) FILTER (arm = 0) AS BIGINT) AS sx_a,
         CAST(sum(qx) FILTER (arm = 1) AS BIGINT) AS sx_b,
         CAST(sum(qy) FILTER (arm = 0) AS BIGINT) AS sy_a,
         CAST(sum(qy) FILTER (arm = 1) AS BIGINT) AS sy_b,
         CAST(sum(qx) AS BIGINT) AS sx,
         CAST(sum(qy) AS BIGINT) AS sy,
         CAST(sum(qx * qx) AS BIGINT) AS sxx,
         CAST(sum(qx * qy) AS BIGINT) AS sxy,
         CAST(count(*) AS BIGINT) AS n
  FROM pu
), c AS (
  SELECT *,
         CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * sx / CAST(n AS DOUBLE) AS varx,
         CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * sy / CAST(n AS DOUBLE) AS covxy,
         CASE WHEN n_a <> 0 THEN CAST(sx_a AS DOUBLE)
                                   / CAST(n_a AS DOUBLE) / 10000.0 END
           AS mxa,
         CASE WHEN n_b <> 0 THEN CAST(sx_b AS DOUBLE)
                                   / CAST(n_b AS DOUBLE) / 10000.0 END
           AS mxb,
         CASE WHEN n_a <> 0 THEN CAST(sy_a AS DOUBLE)
                                   / CAST(n_a AS DOUBLE) / 10000.0 END
           AS mya,
         CASE WHEN n_b <> 0 THEN CAST(sy_b AS DOUBLE)
                                   / CAST(n_b AS DOUBLE) / 10000.0 END
           AS myb
  FROM m
), t AS (
  SELECT *, CASE WHEN varx > 0 THEN covxy / varx END AS theta FROM c
)
SELECT n_a, n_b,
       {_dec("mya", 6)} AS mean_post_a,
       {_dec("myb", 6)} AS mean_post_b,
       {_dec("mya - myb", 6)} AS diff_raw,
       {_dec("theta", 6)} AS theta,
       {_dec("mya - myb - theta * (mxa - mxb)", 6)} AS diff_adj
FROM t
"""


def _mrr_arm(src_sql: str, name: str) -> str:
    """one index's MRR row — 1/rank as explicit DOUBLE division
    (a bare 1.0 literal would divide in DECIMAL, which truncates
    where IEEE rounds — e.g. rank 6 flips the 1e-6 quantization)."""
    nq = float(len(P.ANN_QUERY_IDS))
    s = sql_sum_fixed("CAST(1.0 AS DOUBLE) / rank", 6)
    return f"""SELECT '{name}' AS system,
       CAST({len(P.ANN_QUERY_IDS)} AS BIGINT) AS n_queries,
       CAST(count(*) AS BIGINT) AS n_hit,
       coalesce({_dec(f"({s}) / {nq!r}", 6)}, 0.0) AS mrr
FROM ({src_sql}) t
JOIN exact1 USING (query_id, neighbor_id)"""


ORACLES["ann_mrr"] = f"""
WITH exact1 AS (
  SELECT query_id, neighbor_id
  FROM ({_ann_sql(bucketed=False)}) t WHERE rank = 1
)
{_mrr_arm(_ann_sql(bucketed=True), "lsh")}
UNION ALL
{_mrr_arm(_ann_sql(bucketed=True, multiprobe=True), "lsh_mp")}
UNION ALL
{_mrr_arm(_ivf_sql(), "ivf")}
"""


def _eval_arm(src_sql: str, name: str) -> str:
    """one system row of the consolidated ann_eval: recall@k via a
    scalar subselect against the full exact set, top-1 hit count +
    MRR from the exact1 join (same fixed-point fold as _mrr_arm, so
    ann_eval's mrr column is bit-identical to ann_mrr's)."""
    nq = float(len(P.ANN_QUERY_IDS))
    denom = nq * float(P.ANN_TOP_K)
    s = sql_sum_fixed("CAST(1.0 AS DOUBLE) / rank", 6)
    return f"""SELECT '{name}' AS system,
       CAST({len(P.ANN_QUERY_IDS)} AS BIGINT) AS n_queries,
       CAST((SELECT count(*) FROM ({src_sql}) a
             JOIN exact USING (query_id, neighbor_id)) AS BIGINT)
         AS n_hit_k,
       {_dec(
           f"(SELECT count(*) FROM ({src_sql}) a "
           f"JOIN exact USING (query_id, neighbor_id)) / {denom!r}", 4
       )} AS recall_at_k,
       CAST(count(*) AS BIGINT) AS n_hit_top1,
       coalesce({_dec(f"({s}) / {nq!r}", 6)}, 0.0) AS mrr
FROM ({src_sql}) t
JOIN exact1 USING (query_id, neighbor_id)"""


ORACLES["ann_eval"] = f"""
WITH exact AS (
  SELECT query_id, neighbor_id FROM ({_ann_sql(bucketed=False)}) t
),
exact1 AS (
  SELECT query_id, neighbor_id
  FROM ({_ann_sql(bucketed=False)}) t WHERE rank = 1
)
{_eval_arm(_ann_sql(bucketed=True), "lsh")}
UNION ALL
{_eval_arm(_ann_sql(bucketed=True, multiprobe=True), "lsh_mp")}
UNION ALL
{_eval_arm(_ivf_sql(), "ivf")}
"""


ORACLES["prf_expand"] = f"""
WITH hybrid AS (SELECT * FROM ({ORACLES["hybrid_search_rrf"]}) t),
corpus AS (
  SELECT d.doc_id, {NORM} AS norm
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
),
cand AS (SELECT * FROM corpus WHERE doc_id NOT IN ({_HQ})),
tf_terms AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
    SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM cand
  ) WHERE length(term) > 0 GROUP BY doc_id, term
),
dfs AS (SELECT term, count(*) AS df FROM tf_terms GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM cand),
qterms AS (
  SELECT DISTINCT doc_id AS query_id, term FROM (
    SELECT doc_id, unnest(string_split(norm, ' ')) AS term
    FROM corpus WHERE doc_id IN ({_HQ})
  ) WHERE length(term) > 0
),
scored AS (
  SELECT h.query_id, t.term,
         {sql_sum_fixed(
             "t.tf * ((n.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))", 6
         )} AS prf_score
  FROM hybrid h
  JOIN tf_terms t USING (doc_id)
  JOIN dfs USING (term), n
  GROUP BY h.query_id, t.term
),
excl AS (
  SELECT s.* FROM scored s
  WHERE NOT EXISTS (SELECT 1 FROM qterms x
                    WHERE x.query_id = s.query_id AND x.term = s.term)
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY prf_score DESC, term ASC) AS rank
  FROM excl
)
SELECT query_id, term, prf_score, CAST(rank AS INT) AS rank
FROM rk WHERE rank <= {P.PRF_EXPANSION_TERMS}
"""


ORACLES["prf_requery"] = f"""
WITH prf AS (SELECT * FROM ({ORACLES["prf_expand"]}) t),
corpus AS (
  SELECT d.doc_id, {NORM} AS norm
  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
),
cand AS (SELECT * FROM corpus WHERE doc_id NOT IN ({_HQ})),
terms AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(norm, ' ')) AS term FROM cand
  ) WHERE length(term) > 0
),
dfs AS (SELECT term, count(*) AS df FROM terms GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM cand),
qterms AS (
  SELECT DISTINCT doc_id AS query_id, term, {P.PRF_W_ORIG} AS w FROM (
    SELECT doc_id, unnest(string_split(norm, ' ')) AS term
    FROM corpus WHERE doc_id IN ({_HQ})
  ) WHERE length(term) > 0
),
wterms AS (
  SELECT query_id, term, w FROM qterms
  UNION ALL
  SELECT query_id, term, {P.PRF_W_EXPANSION} AS w FROM prf
),
scored AS (
  SELECT w.query_id, t.doc_id,
         {sql_sum_fixed(
             "w.w * ((n.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))", 6
         )} AS requery_score
  FROM terms t
  JOIN wterms w USING (term)
  JOIN dfs USING (term), n
  GROUP BY w.query_id, t.doc_id
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY requery_score DESC,
                                        doc_id ASC) AS rank
  FROM scored
)
SELECT query_id, doc_id, requery_score, CAST(rank AS INT) AS rank
FROM rk WHERE rank <= {P.HYBRID_TOP_K}
"""


ORACLES["context_pack"] = f"""
WITH picks AS (SELECT * FROM ({ORACLES["mmr_rerank"]}) t),
ntok AS (
  SELECT doc_id,
         CASE WHEN text IS NULL THEN 0 ELSE len({TOKS}) END AS n_tokens
  FROM documents
),
j AS (
  SELECT p.query_id, p.doc_id, p.pick_order,
         CAST(n.n_tokens AS BIGINT) AS n_tokens
  FROM picks p JOIN ntok n USING (doc_id)
),
c AS (
  SELECT *, CAST(sum(n_tokens) OVER (
              PARTITION BY query_id ORDER BY pick_order
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum_tokens
  FROM j
)
SELECT query_id, doc_id, CAST(pick_order AS INT) AS pick_order,
       n_tokens, cum_tokens,
       cum_tokens <= {P.CONTEXT_TOKEN_BUDGET} AS included
FROM c
"""


ORACLES["dedup_spans_cut"] = f"""
WITH spans AS (SELECT * FROM ({ORACLES["dedup_spans"]}) t),
sp AS (
  SELECT doc_id,
         list(struct_pack(s := span_start, e := span_end)) AS sp
  FROM spans GROUP BY doc_id
),
t AS (SELECT doc_id, {TOKS} AS toks FROM documents
      WHERE text IS NOT NULL),
j AS (SELECT t.doc_id, t.toks, sp.sp FROM t LEFT JOIN sp USING (doc_id)),
kept AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN sp IS NULL THEN toks
              ELSE list_filter(
                     list_transform(range(1, len(toks) + 1),
                       i -> CASE WHEN len(list_filter(sp,
                                    r -> i - 1 >= r.s AND i - 1 <= r.e)) > 0
                                 THEN NULL ELSE toks[i] END),
                     x -> x IS NOT NULL)
         END AS kt
  FROM j
)
SELECT doc_id, n_tokens, CAST(len(kt) AS BIGINT) AS n_kept,
       -- array_to_string([]) is NULL in DuckDB where Spark's
       -- array_join([]) is '' — whole-doc cuts need the coalesce
       md5(coalesce(array_to_string(kt, ' '), '')) AS clean_md5
FROM kept
"""


ORACLES["decontam_spans_cut"] = f"""
WITH spans AS (SELECT * FROM ({ORACLES["decontam_spans"]}) t),
sp AS (
  SELECT doc_id,
         list(struct_pack(s := span_start, e := span_end)) AS sp
  FROM spans GROUP BY doc_id
),
t AS (SELECT doc_id, {TOKS} AS toks FROM documents
      WHERE text IS NOT NULL AND doc_id >= {P.EVAL_DOC_MAX}),
j AS (SELECT t.doc_id, t.toks, sp.sp FROM t LEFT JOIN sp USING (doc_id)),
kept AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN sp IS NULL THEN toks
              ELSE list_filter(
                     list_transform(range(1, len(toks) + 1),
                       i -> CASE WHEN len(list_filter(sp,
                                    r -> i - 1 >= r.s AND i - 1 <= r.e)) > 0
                                 THEN NULL ELSE toks[i] END),
                     x -> x IS NOT NULL)
         END AS kt
  FROM j
)
SELECT doc_id, n_tokens, CAST(len(kt) AS BIGINT) AS n_kept,
       -- array_to_string([]) is NULL in DuckDB where Spark's
       -- array_join([]) is '' — whole-doc cuts need the coalesce
       md5(coalesce(array_to_string(kt, ' '), '')) AS clean_md5
FROM kept
"""


ORACLES["decontam_report"] = f"""
WITH ng AS (SELECT * FROM ({ORACLES["decontam_ngram"]}) t),
fz AS (
  SELECT train_doc_id AS doc_id, max(containment) AS max_containment
  FROM ({ORACLES["decontam_fuzzy"]}) t GROUP BY train_doc_id
),
em AS (SELECT * FROM ({ORACLES["decontam_embedding"]}) t),
sp AS (
  SELECT doc_id, CAST(sum(span_tokens) AS BIGINT) AS leaked
  FROM ({ORACLES["decontam_spans"]}) t GROUP BY doc_id
),
base AS (SELECT doc_id FROM documents WHERE doc_id >= {P.EVAL_DOC_MAX}),
j AS (
  SELECT b.doc_id,
         ng.hit_frac,
         coalesce(ng.contaminated, FALSE) AS contaminated_ngram,
         fz.max_containment,
         fz.max_containment IS NOT NULL AS contaminated_fuzzy,
         em.max_cos,
         coalesce(em.contaminated, FALSE) AS contaminated_embedding,
         coalesce(sp.leaked, 0) AS leaked_span_tokens
  FROM base b
  LEFT JOIN ng USING (doc_id)
  LEFT JOIN fz USING (doc_id)
  LEFT JOIN em USING (doc_id)
  LEFT JOIN sp USING (doc_id)
)
SELECT j.*,
       CASE WHEN contaminated_ngram OR contaminated_fuzzy
                 OR contaminated_embedding THEN 'drop'
            WHEN leaked_span_tokens > 0 THEN 'cut'
            ELSE 'keep' END AS verdict
FROM j
"""


ORACLES["dedup_spans_intra_cut"] = f"""
WITH spans AS (SELECT * FROM ({ORACLES["dedup_spans_intra"]}) t),
sp AS (
  SELECT doc_id,
         list(struct_pack(s := span_start, e := span_end)) AS sp
  FROM spans GROUP BY doc_id
),
t AS (SELECT doc_id, {TOKS} AS toks FROM documents
      WHERE text IS NOT NULL),
j AS (SELECT t.doc_id, t.toks, sp.sp FROM t LEFT JOIN sp USING (doc_id)),
kept AS (
  SELECT doc_id,
         CAST(len(toks) AS BIGINT) AS n_tokens,
         CASE WHEN sp IS NULL THEN toks
              ELSE list_filter(
                     list_transform(range(1, len(toks) + 1),
                       i -> CASE WHEN len(list_filter(sp,
                                    r -> i - 1 >= r.s AND i - 1 <= r.e)) > 0
                                 THEN NULL ELSE toks[i] END),
                     x -> x IS NOT NULL)
         END AS kt
  FROM j
)
SELECT doc_id, n_tokens, CAST(len(kt) AS BIGINT) AS n_kept,
       md5(coalesce(array_to_string(kt, ' '), '')) AS clean_md5
FROM kept
"""


ORACLES["dedup_recall"] = f"""
WITH t AS (
  SELECT doc_a, doc_b, 1 AS src
  FROM ({ORACLES["dedup_ngram_jaccard"]}) x
), c AS (
  SELECT doc_a, doc_b, 2 AS src
  FROM ({ORACLES["dedup_minhash"]}) y
), flags AS (
  SELECT doc_a, doc_b, sum(src) AS s
  FROM (SELECT * FROM t UNION ALL SELECT * FROM c)
  GROUP BY doc_a, doc_b
), m AS (
  SELECT CAST(count(*) FILTER (s IN (1, 3)) AS BIGINT) AS n_true,
         CAST(count(*) FILTER (s IN (2, 3)) AS BIGINT) AS n_candidates,
         CAST(count(*) FILTER (s = 3) AS BIGINT) AS n_hit
  FROM flags
)
SELECT n_true, n_candidates, n_hit,
       CASE WHEN n_true <> 0
            THEN {_dec("CAST(n_hit AS DOUBLE) / n_true", 6)} END AS recall,
       CASE WHEN n_candidates <> 0
            THEN {_dec("CAST(n_hit AS DOUBLE) / n_candidates", 6)} END
         AS precision
FROM m
"""


ORACLES["l_diversity"] = f"""
SELECT source, chars_bucket, n, n_langs, n_langs < {P.L_DIVERSITY} AS at_risk
FROM (
  SELECT source,
         CAST(floor(n_chars / {P.K_ANON_CHARS_BUCKET})
              * {P.K_ANON_CHARS_BUCKET} AS BIGINT) AS chars_bucket,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
  FROM documents
  GROUP BY source, chars_bucket
) t
"""


ORACLES["ts_changepoint"] = f"""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS day,
         CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 10000.0 + 0.5)
                       AS BIGINT)) AS BIGINT) AS x
  FROM events WHERE ts IS NOT NULL GROUP BY day
), tot AS (
  SELECT CAST(sum(x) AS BIGINT) AS s_tot,
         CAST(count(*) AS BIGINT) AS n_days
  FROM daily
), cum AS (
  SELECT day, x, s_tot, n_days,
         CAST(sum(x) OVER (ORDER BY day
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS csum,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t
  FROM daily, tot
), c AS (
  SELECT day, x, n_days,
         -- HUGEINT: the n-fold amplification outgrows BIGINT on a
         -- years-long series of billion-event days (the Spark side
         -- uses DECIMAL(38,0) for the same reason)
         CAST(n_days AS HUGEINT) * csum - CAST(t AS HUGEINT) * s_tot
           AS c_scaled
  FROM cum
)
SELECT day,
       {_dec("CAST(x AS DOUBLE) / 10000.0", 4)} AS daily_total,
       {_dec("CAST(c_scaled AS DOUBLE) / n_days / 10000.0", 4)} AS cusum,
       row_number() OVER (ORDER BY abs(c_scaled) DESC, day ASC) = 1
         AS is_peak
FROM c
"""


ORACLES["benford_digits"] = f"""
WITH digits AS (
  SELECT CAST(substr(CAST(vi AS VARCHAR), 1, 1) AS INT) AS digit,
         CAST(count(*) AS BIGINT) AS n_obs
  FROM (
    SELECT CAST(floor(abs(CAST(value AS DOUBLE)) * 10000.0 + 0.5) AS BIGINT)
             AS vi
    FROM events
  ) WHERE vi > 0
  GROUP BY digit
), exp AS (
  SELECT * FROM (VALUES
    {", ".join(
        f"(CAST({d + 1} AS INT), CAST('{p!r}' AS DOUBLE))"
        for d, p in enumerate(P.BENFORD_P)
    )}) v(digit, p)
), tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_tot FROM digits)
SELECT e.digit,
       CAST(coalesce(d.n_obs, 0) AS BIGINT) AS n_obs,
       {_dec("CAST(coalesce(d.n_obs, 0) AS DOUBLE) / n_tot", 6)}
         AS obs_freq,
       {_dec("p", 6)} AS exp_freq,
       {_dec(
           "(CAST(coalesce(d.n_obs, 0) AS DOUBLE)"
           " - CAST(n_tot AS DOUBLE) * p)"
           " * (CAST(coalesce(d.n_obs, 0) AS DOUBLE)"
           "    - CAST(n_tot AS DOUBLE) * p)"
           " / (CAST(n_tot AS DOUBLE) * p)", 6
       )} AS chi2_part
FROM exp e LEFT JOIN digits d USING (digit), tot
"""


ORACLES["ab_kstest"] = f"""
WITH per_v AS (
  SELECT CAST(floor(CAST(value AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS v,
         CAST(count(*) FILTER (
           ({_hexpoly("md5('ab1' || '|' || CAST(user_id AS VARCHAR))", 1)})
             % 2 = 0) AS BIGINT) AS ca,
         CAST(count(*) FILTER (
           ({_hexpoly("md5('ab1' || '|' || CAST(user_id AS VARCHAR))", 1)})
             % 2 = 1) AS BIGINT) AS cb
  FROM events WHERE value IS NOT NULL GROUP BY v
), tot AS (
  SELECT CAST(sum(ca) AS BIGINT) AS n_a,
         CAST(sum(cb) AS BIGINT) AS n_b
  FROM per_v
), cum AS (
  SELECT v,
         CAST(sum(ca) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS na_le,
         CAST(sum(cb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS nb_le
  FROM per_v
), d AS (
  SELECT v, n_a, n_b,
         abs(CAST(na_le AS HUGEINT) * n_b
             - CAST(nb_le AS HUGEINT) * n_a) AS num
  FROM cum, tot
), rk AS (
  SELECT *, row_number() OVER (ORDER BY num DESC, v ASC) AS r FROM d
)
SELECT n_a, n_b,
       CASE WHEN n_a > 0 AND n_b > 0
            THEN {_dec("CAST(num AS DOUBLE) / n_a / n_b", 6)} END AS ks_d,
       CASE WHEN n_a > 0 AND n_b > 0
            THEN {_dec("CAST(v AS DOUBLE) / 10000.0", 4)} END AS at_value
FROM rk WHERE r = 1
"""


ORACLES["value_ecdf"] = f"""
WITH per_v AS (
  SELECT CAST(floor(CAST(value AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS v,
         CAST(count(*) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL GROUP BY v
), tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS n FROM per_v
)
-- plain single-window form: the Spark side's blocked decomposition
-- (per-block cumsum + block-total carry) is integer-exact, so the
-- two formulations hash-match bit for bit
SELECT {_dec("CAST(v AS DOUBLE) / 10000.0", 4)} AS value,
       CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS n_le,
       {_dec(
         "CAST(sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)"
         " AS DOUBLE) / n", 6)} AS cdf
FROM per_v, tot
"""


ORACLES["sketch_hll"] = f"""
WITH rows AS (
  SELECT event_type,
         {_hexpoly(
             "md5('hll|' || CAST(user_id AS VARCHAR))", 1
         )} AS h
  FROM events WHERE user_id IS NOT NULL
), ranked AS (
  SELECT event_type, h % 64 AS bucket,
         CASE WHEN h // 64 = 0 THEN 27
              ELSE 27 - length(bin(h // 64)) END AS r
  FROM rows
), regs AS (
  SELECT event_type, bucket, CAST(max(r) AS BIGINT) AS reg
  FROM ranked GROUP BY event_type, bucket
), merged AS (
  SELECT 'ALL' AS event_type, bucket, CAST(max(reg) AS BIGINT) AS reg
  FROM regs GROUP BY bucket
), allregs AS (
  SELECT * FROM regs UNION ALL SELECT * FROM merged
), folded AS (
  SELECT event_type,
         CAST(sum(1::BIGINT << CAST(27 - reg AS INT)) AS BIGINT)
           AS z_scaled,
         CAST(count(*) AS BIGINT) AS n_used
  FROM allregs GROUP BY event_type
)
SELECT event_type,
       CAST(64 - n_used AS BIGINT) AS n_zero_registers,
       z_scaled,
       {_dec(
         "0.709 * 64 * 64 * 134217728.0"
         " / (z_scaled + (64 - n_used) * 134217728.0)", 4
       )} AS hll_raw_est
FROM folded
"""


# lag unroll generated from params.EWMA_DEPTH — the SAME constant
# window_ewma defaults to, so depth cannot silently diverge between
# the operator and this oracle (the ZSCORE_WINDOW single-sourcing
# pattern). Weight of lag i is 2^(depth-1-i); lag 0 is vi itself.
_EWMA_NUM = " + ".join(
    f"COALESCE(lag(vi, {i}) OVER w * {1 << (P.EWMA_DEPTH - 1 - i)}, 0)"
    if i
    else f"vi * {1 << (P.EWMA_DEPTH - 1)}"
    for i in range(P.EWMA_DEPTH)
)
_EWMA_DEN = " + ".join(
    f"CASE WHEN lag(vi, {i}) OVER w IS NOT NULL"
    f" THEN {1 << (P.EWMA_DEPTH - 1 - i)} ELSE 0 END"
    if i
    else f"{1 << (P.EWMA_DEPTH - 1)}"
    for i in range(P.EWMA_DEPTH)
)
ORACLES["window_ewma"] = f"""
WITH base AS (
  SELECT event_id, user_id, ts,
         CAST(floor(CAST(value AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS vi
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
), terms AS (
  SELECT event_id, user_id,
         CAST({_EWMA_NUM} AS BIGINT) AS num,
         CAST({_EWMA_DEN} AS BIGINT) AS den
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id,
       {_dec("CAST(num AS DOUBLE) / den / 10000.0", 6)} AS ewma
FROM terms
"""


ORACLES["skyline_pareto"] = f"""
WITH base AS (
  SELECT o_orderkey,
         CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5) AS BIGINT)
           AS pi,
         CAST(datediff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS BIGINT) AS di
  FROM orders
  WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
), per_p AS (
  SELECT pi, CAST(max(di) AS BIGINT) AS dmax FROM base GROUP BY pi
), runs AS (
  SELECT pi, dmax,
         max(dmax) OVER (ORDER BY pi DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING) AS m_pricier
  FROM per_p
)
SELECT b.o_orderkey,
       {_dec("CAST(b.pi AS DOUBLE) / 100.0", 2)} AS o_totalprice,
       DATE '1970-01-01' + CAST(b.di AS INT) AS o_orderdate
FROM base b JOIN runs r USING (pi)
WHERE (r.m_pricier IS NULL OR b.di > r.m_pricier)
  AND b.di = r.dmax
"""


# shared vocabulary + bottom-k sketch prefix of the two
# source_overlap_kmv oracles (exact+sketch, and sketch-only), so the
# sketch semantics cannot drift between them
_SRCOV_VOCAB = f"""stoks AS (SELECT source, {TOKS} AS toks FROM documents),
ssh AS (
  SELECT source,
         CASE WHEN len(toks) >= {_K}
              THEN list_transform(range(1, len(toks) - {_K} + 2),
                                  i -> array_to_string(toks[i:i+{_K - 1}], ' '))
              ELSE [array_to_string(toks, ' ')] END AS shingles
  FROM stoks
),
sterm AS (SELECT DISTINCT source, unnest(shingles) AS term FROM ssh),
-- NULL text yields a NULL whole-text shingle here; the engine's
-- explode+isNotNull drops it, so the oracle must too or every
-- NULL-doc source gains one phantom vocabulary entry
hs AS (SELECT DISTINCT source, {_hexpoly("md5(term)", 1)} AS h FROM sterm
       WHERE term IS NOT NULL),
shard AS (SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h) AS rn
          FROM hs),
skt AS (SELECT source, h FROM shard WHERE rn <= {_KM})"""

_SRCOV_EST = f"""u AS (
  SELECT p.a, p.b, s.h,
         max(CASE WHEN s.source = p.a THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN s.source = p.b THEN 1 ELSE 0 END) AS in_b
  FROM pairs p JOIN skt s ON s.source = p.a OR s.source = p.b
  GROUP BY p.a, p.b, s.h
),
uk AS (SELECT *, row_number() OVER (PARTITION BY a, b ORDER BY h) AS rn
       FROM u),
est AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS k_eff,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_both
  FROM uk WHERE rn <= {_KM} GROUP BY a, b
)"""

ORACLES["source_overlap_kmv"] = f"""
WITH {_SRCOV_VOCAB},
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM hs GROUP BY source),
inter AS (
  SELECT x.source AS a, y.source AS b, CAST(count(*) AS BIGINT) AS n_inter
  FROM hs x JOIN hs y ON x.h = y.h AND x.source < y.source
  GROUP BY x.source, y.source
),
pairs AS (
  SELECT sa.source AS a, sb.source AS b, sa.n AS na, sb.n AS nb,
         COALESCE(i.n_inter, 0) AS n_inter
  FROM sizes sa JOIN sizes sb ON sa.source < sb.source
  LEFT JOIN inter i ON i.a = sa.source AND i.b = sb.source
),
{_SRCOV_EST}
SELECT p.a, p.b, p.n_inter,
       CAST(p.na + p.nb - p.n_inter AS BIGINT) AS n_union,
       {_dec("CAST(p.n_inter AS DOUBLE) / (p.na + p.nb - p.n_inter)", 6)}
         AS j_exact,
       {_dec("CAST(e.n_both AS DOUBLE) / e.k_eff", 6)} AS j_kmv
FROM pairs p JOIN est e ON e.a = p.a AND e.b = p.b
"""

ORACLES["source_overlap_kmv_sketch"] = f"""
WITH {_SRCOV_VOCAB},
srcs AS (SELECT DISTINCT source FROM skt),
pairs AS (
  SELECT sa.source AS a, sb.source AS b
  FROM srcs sa JOIN srcs sb ON sa.source < sb.source
),
{_SRCOV_EST}
SELECT e.a, e.b, e.k_eff,
       {_dec("CAST(e.n_both AS DOUBLE) / e.k_eff", 6)} AS j_kmv
FROM est e
"""

ORACLES["token_gini"] = f"""
WITH toks AS (
  SELECT doc_id, unnest({TOKS}) AS term
  FROM documents WHERE text IS NOT NULL
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
  FROM toks WHERE length(term) > 0 GROUP BY doc_id, term
),
g AS (
  SELECT doc_id,
         CAST(sum(c) AS BIGINT) AS n,
         CAST(sum(c * c) AS BIGINT) AS ss,
         CAST(count(*) AS BIGINT) AS n_distinct
  FROM tf GROUP BY doc_id
)
SELECT doc_id, n AS n_tokens, n_distinct,
       {_dec("CAST(n_distinct AS DOUBLE) / n", 6)} AS ttr,
       {_dec("CAST(n * n - ss AS DOUBLE) / (n * n)", 6)} AS gini
FROM g
"""

# the JSONL key's oracle never parses broken JSON: the corruption
# rule (every 97th doc_id's line truncated) is deterministic, so the
# expected good/quarantined split and the good-side checksum are
# derivable analytically from the original table — value-checking
# the engine's write→corrupt→parse→quarantine path end to end
ORACLES["scan_jsonl_corrupt"] = """
SELECT CAST(count(*) FILTER (WHERE coalesce(doc_id, 1) % 97 <> 0)
            AS BIGINT) AS n_good,
       CAST(sum(n_chars) FILTER (WHERE coalesce(doc_id, 1) % 97 <> 0)
            AS BIGINT) AS sum_chars_good,
       CAST(count(DISTINCT doc_id)
            FILTER (WHERE coalesce(doc_id, 1) % 97 <> 0)
            AS BIGINT) AS n_distinct_good,
       CAST(count(*) FILTER (WHERE coalesce(doc_id, 1) % 97 = 0)
            AS BIGINT) AS n_quarantined
FROM documents
"""

ORACLES["scan_schema_evolution"] = """
SELECT CAST(1 AS INT) AS batch,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(0 AS BIGINT) AS n_status_nonnull,
       CAST(sum(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5)
                     AS BIGINT)) AS BIGINT) AS price_cents
FROM orders WHERE o_orderkey % 2 = 0
UNION ALL
SELECT CAST(2 AS INT),
       CAST(count(*) AS BIGINT),
       CAST(count(o_orderstatus) AS BIGINT),
       CAST(sum(CAST(floor(CAST(o_totalprice AS DOUBLE) * 100.0 + 0.5)
                     AS BIGINT)) AS BIGINT)
FROM orders WHERE o_orderkey % 2 = 1
"""

ORACLES["scan_orc_roundtrip"] = """
SELECT l_linestatus,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(CAST(l_quantity AS DOUBLE) * 100.0 + 0.5)
                     AS BIGINT)) AS BIGINT) AS qty_cents,
       CAST(min(l_orderkey) AS BIGINT) AS min_key,
       CAST(max(l_orderkey) AS BIGINT) AS max_key
FROM lineitem GROUP BY l_linestatus
"""

ORACLES["scan_csv_typed"] = """
SELECT l_returnflag,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(floor(CAST(l_quantity AS DOUBLE) * 100.0 + 0.5)
                     AS BIGINT)) AS BIGINT) AS qty_cents,
       CAST(sum(l_orderkey) AS BIGINT) AS key_sum
FROM lineitem GROUP BY l_returnflag
"""

ORACLES["winsorize_stats"] = f"""
WITH base AS (
  SELECT event_type,
         CAST(floor(CAST(value AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS vi
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL
),
per_v AS (
  SELECT event_type, vi, CAST(count(*) AS BIGINT) AS c
  FROM base GROUP BY event_type, vi
),
cum AS (
  SELECT event_type, vi,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY vi)
              AS BIGINT) AS c_cum
  FROM per_v
),
tot AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n
  FROM base GROUP BY event_type
),
bounds AS (
  SELECT c.event_type,
         min(CASE WHEN c_cum >=
               (n * {P.WINSOR_LO_NUM} + {P.WINSOR_DEN - 1}) // {P.WINSOR_DEN}
             THEN vi END) AS lo,
         min(CASE WHEN c_cum >=
               (n * {P.WINSOR_HI_NUM} + {P.WINSOR_DEN - 1}) // {P.WINSOR_DEN}
             THEN vi END) AS hi
  FROM cum c JOIN tot t ON t.event_type = c.event_type
  GROUP BY c.event_type
),
agg AS (
  SELECT b.event_type,
         CAST(count(*) AS BIGINT) AS n,
         max(lo) AS lo, max(hi) AS hi,
         CAST(sum(b.vi) AS BIGINT) AS s_raw,
         CAST(sum(CASE WHEN b.vi < lo THEN lo
                       WHEN b.vi > hi THEN hi ELSE b.vi END)
              AS BIGINT) AS s_win,
         CAST(sum(CASE WHEN b.vi < lo OR b.vi > hi THEN 1 ELSE 0 END)
              AS BIGINT) AS n_clipped
  FROM base b JOIN bounds USING (event_type)
  GROUP BY b.event_type
)
SELECT event_type, n,
       {_dec("CAST(lo AS DOUBLE) / 10000.0", 4)} AS p_lo,
       {_dec("CAST(hi AS DOUBLE) / 10000.0", 4)} AS p_hi,
       {_dec("CAST(s_raw AS DOUBLE) / n / 10000.0", 6)} AS mean_raw,
       {_dec("CAST(s_win AS DOUBLE) / n / 10000.0", 6)} AS mean_winsorized,
       n_clipped
FROM agg
"""


ORACLES["ab_chisq"] = f"""
WITH cells AS (
  SELECT ({_hexpoly("md5('ab1' || '|' || CAST(user_id AS VARCHAR))", 1)}) % 2
           AS arm,
         event_type, CAST(count(*) AS BIGINT) AS o
  FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
  GROUP BY arm, event_type
), rows_t AS (SELECT arm, CAST(sum(o) AS BIGINT) AS r FROM cells GROUP BY arm),
cols_t AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS c
           FROM cells GROUP BY event_type),
tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
               CAST(count(DISTINCT arm) AS BIGINT) AS n_arms,
               CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        FROM cells),
per_cell AS (
  -- HUGEINT products: BIGINT would RAISE here (and Spark would
  -- silently wrap) once |O*n - r*c| passes ~3e9; the Spark side
  -- carries the same products as DECIMAL(38,0)
  SELECT t.n, t.n_arms, t.n_types,
         CAST(floor(
           CAST(CAST(ce.o AS HUGEINT) * t.n - CAST(rt.r AS HUGEINT) * ct.c
                AS DOUBLE)
           * CAST(CAST(ce.o AS HUGEINT) * t.n - CAST(rt.r AS HUGEINT) * ct.c
                  AS DOUBLE)
           / CAST(CAST(rt.r AS HUGEINT) * ct.c * t.n AS DOUBLE) * 1e9 + 0.5
         ) AS HUGEINT) AS t9
  FROM cells ce
  JOIN rows_t rt ON rt.arm = ce.arm
  JOIN cols_t ct ON ct.event_type = ce.event_type
  CROSS JOIN tot t
)
SELECT n, CAST((n_arms - 1) * (n_types - 1) AS BIGINT) AS dof,
       {_dec("CAST(sum(t9) AS DOUBLE) / 1e9", 6)} AS chi2
FROM per_cell GROUP BY n, n_arms, n_types
"""


ORACLES["seq_trigrams"] = """
WITH base AS (
  SELECT user_id, ts, event_id,
         lag(event_type, 2) OVER w AS t1,
         lag(event_type, 1) OVER w AS t2,
         event_type AS t3
  FROM events
  WHERE ts IS NOT NULL AND event_type IS NOT NULL
    AND user_id IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), counts AS (
  SELECT t1, t2, t3, CAST(count(*) AS BIGINT) AS n
  FROM base WHERE t1 IS NOT NULL GROUP BY t1, t2, t3
)
SELECT t1, t2, t3, n, rk FROM (
  SELECT *, CAST(row_number() OVER (ORDER BY n DESC, t1, t2, t3)
                 AS BIGINT) AS rk
  FROM counts
) WHERE rk <= 25
"""


ORACLES["basket_pairs"] = """
WITH op AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
  WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
), pairs AS (
  SELECT a.l_partkey AS p1, b.l_partkey AS p2,
         CAST(count(*) AS BIGINT) AS support
  FROM op a JOIN op b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY p1, p2
)
SELECT p1, p2, support, rk FROM (
  SELECT *, CAST(row_number() OVER (ORDER BY support DESC, p1, p2)
                 AS BIGINT) AS rk
  FROM pairs
) WHERE rk <= 25
"""


ORACLES["attribution_first_touch"] = """
WITH base AS (
  SELECT * FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
), marked AS (
  SELECT event_id, user_id, ts, event_type, value,
         -- the sort key must be lexicographic-safe: raw epoch_us
         -- goes negative before 1970 and '-12' < '-19' as strings
         -- would mis-order; a 2^62 offset keeps every representable
         -- timestamp positive and 19 digits wide
         CASE WHEN event_type = 'click'
              THEN lpad(CAST(epoch_us(ts) + 4611686018427387904
                             AS VARCHAR), 20, '0')
                   || lpad(CAST(event_id AS VARCHAR), 12, '0') END AS ck
  FROM base
), run AS (
  SELECT *, min(ck) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS fck
  FROM marked
)
SELECT r.event_id, r.user_id, r.value AS purchase_value,
       c.event_id AS click_event_id,
       epoch_us(c.ts) AS click_ts_us,
       c.value AS click_value
FROM run r
LEFT JOIN events c ON c.event_id = CAST(substr(r.fck, 21, 12) AS BIGINT)
WHERE r.event_type = 'purchase'
"""


ORACLES["trend_theil_sen"] = f"""
WITH pts AS (
  SELECT user_id, event_id, epoch_ms(ts) AS x_ms,
         CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS y_q
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
), slopes AS (
  SELECT a.user_id,
         CAST(floor(
           CAST((b.y_q - a.y_q) AS DOUBLE) * 86400000.0
           / CAST((b.x_ms - a.x_ms) AS DOUBLE) * 1e6 + 0.5
         ) AS BIGINT) AS s6
  FROM pts a JOIN pts b
    ON a.user_id = b.user_id AND a.event_id < b.event_id
   AND a.x_ms <> b.x_ms
), ranked AS (
  SELECT user_id, s6,
         row_number() OVER (PARTITION BY user_id ORDER BY s6) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM slopes
)
SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
       {_dec("CAST(s6 AS DOUBLE) / 1e6", 6)} AS slope_cents_per_day
FROM ranked WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
"""


ORACLES["trend_theil_sen_capped"] = f"""
WITH pts AS (
  SELECT user_id, event_id, epoch_ms(ts) AS x_ms,
         CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS y_q
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
), ranked_pts AS (
  SELECT *, row_number() OVER (
           PARTITION BY user_id
           ORDER BY {_hexpoly("md5('tsen' || '|' || CAST(event_id AS VARCHAR))", 1)},
                    event_id) AS prn
  FROM pts
), pts_c AS (
  SELECT user_id, event_id, x_ms, y_q FROM ranked_pts WHERE prn <= {P.THEIL_SEN_CAP}
), slopes AS (
  SELECT a.user_id,
         CAST(floor(
           CAST((b.y_q - a.y_q) AS DOUBLE) * 86400000.0
           / CAST((b.x_ms - a.x_ms) AS DOUBLE) * 1e6 + 0.5
         ) AS BIGINT) AS s6
  FROM pts_c a JOIN pts_c b
    ON a.user_id = b.user_id AND a.event_id < b.event_id
   AND a.x_ms <> b.x_ms
), ranked AS (
  SELECT user_id, s6,
         row_number() OVER (PARTITION BY user_id ORDER BY s6) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n
  FROM slopes
)
SELECT user_id, CAST(n AS BIGINT) AS n_pairs,
       {_dec("CAST(s6 AS DOUBLE) / 1e6", 6)} AS slope_cents_per_day
FROM ranked WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
"""


# the Theil–Sen SKEW auto-dial (r14): the statistic is the max
# per-user point count over the SAME filtered point set both arms
# consume — the exact arm's straggler task is C(max_n, 2) pairs —
# then CASE between the two arm SQLs verbatim.
ORACLES["trend_theil_sen_auto"] = f"""
WITH stat AS (
  SELECT COALESCE(MAX(n), 0)
         <= {P.THEIL_SEN_AUTO_MAX_POINTS_PER_USER} AS take_exact
  FROM (
    SELECT user_id, count(*) AS n FROM events
    WHERE value IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
    GROUP BY user_id
  )
)
SELECT * FROM ({{exact}}) e WHERE (SELECT take_exact FROM stat)
UNION ALL
SELECT * FROM ({{capped}}) c WHERE NOT (SELECT take_exact FROM stat)
""".format(
    exact=ORACLES["trend_theil_sen"],
    capped=ORACLES["trend_theil_sen_capped"],
)


ORACLES["resample_interpolate"] = f"""
WITH base AS (
  SELECT user_id, CAST(floor(epoch(ts) / 3600.0) AS BIGINT) AS hr,
         CAST(floor(CAST(value AS DOUBLE) * 100.0 + 0.5) AS BIGINT) AS vq
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND value IS NOT NULL
), observed AS (
  SELECT user_id, hr, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(vq) AS BIGINT) AS qs
  FROM base GROUP BY user_id, hr
), spans AS (
  SELECT user_id, min(hr) AS hr_min, max(hr) AS hr_max
  FROM base GROUP BY user_id
), grid AS (
  SELECT user_id, unnest(generate_series(hr_min, hr_max)) AS hr FROM spans
), j AS (
  SELECT g.user_id, g.hr, o.n_events, o.qs
  FROM grid g LEFT JOIN observed o
    ON o.user_id = g.user_id AND o.hr = g.hr
), k AS (
  SELECT *,
         last_value(CASE WHEN qs IS NOT NULL
                         THEN struct_pack(oh := hr, ov := qs) END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY hr
                 ROWS UNBOUNDED PRECEDING) AS prev,
         last_value(CASE WHEN qs IS NOT NULL
                         THEN struct_pack(oh := hr, ov := qs) END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY hr DESC
                 ROWS UNBOUNDED PRECEDING) AS nxt
  FROM j
)
SELECT user_id, hr,
       CAST(COALESCE(n_events, 0) AS BIGINT) AS n_events,
       {_dec(
         "CASE WHEN qs IS NOT NULL THEN CAST(qs AS DOUBLE) "
         "WHEN prev IS NOT NULL AND nxt IS NOT NULL "
         "THEN CAST(prev.ov AS DOUBLE) "
         "+ CAST(nxt.ov - prev.ov AS DOUBLE) "
         "* CAST(hr - prev.oh AS DOUBLE) "
         "/ CAST(nxt.oh - prev.oh AS DOUBLE) END / 100.0", 2)} AS interp_sum
FROM k
"""


ORACLES["group_percentiles"] = f"""
WITH base AS (
  SELECT l_returnflag AS flag,
         CAST(floor(CAST(l_extendedprice AS DOUBLE) * 100.0 + 0.5)
              AS BIGINT) AS pq
  FROM lineitem
  WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
), ranked AS (
  SELECT flag, pq,
         row_number() OVER (PARTITION BY flag ORDER BY pq) AS rn,
         count(*) OVER (PARTITION BY flag) AS n
  FROM base
)
SELECT flag, CAST(max(n) AS BIGINT) AS n,
       {_dec("CAST(max(CASE WHEN rn = CAST(ceil(n * 1 / 4.0) AS BIGINT)"
             " THEN pq END) AS DOUBLE) / 100.0", 2)} AS p25,
       {_dec("CAST(max(CASE WHEN rn = CAST(ceil(n * 2 / 4.0) AS BIGINT)"
             " THEN pq END) AS DOUBLE) / 100.0", 2)} AS p50,
       {_dec("CAST(max(CASE WHEN rn = CAST(ceil(n * 3 / 4.0) AS BIGINT)"
             " THEN pq END) AS DOUBLE) / 100.0", 2)} AS p75
FROM ranked GROUP BY flag
"""


ORACLES["join_nearest"] = """
WITH l AS (SELECT event_id, user_id, ts FROM events
           WHERE event_type = 'click'),
     -- tied (user_id, ts) views collapse to max(value): ASOF's tie
     -- pick is unspecified in both engines, so the dedup IS the
     -- determinism guarantee
     r AS (SELECT user_id, ts, max(value) AS value FROM events
           WHERE event_type = 'view'
             AND ts IS NOT NULL AND user_id IS NOT NULL
           GROUP BY user_id, ts),
back AS (
  SELECT l.event_id, l.user_id, l.ts,
         epoch_us(r.ts) AS b_us, r.value AS b_val
  FROM (SELECT * FROM l WHERE ts IS NOT NULL) l
  ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
  UNION ALL
  SELECT event_id, user_id, ts, NULL, NULL FROM l WHERE ts IS NULL
),
fwd AS (
  SELECT l.event_id, epoch_us(r.ts) AS f_us, r.value AS f_val
  FROM (SELECT * FROM l WHERE ts IS NOT NULL) l
  ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
  UNION ALL
  SELECT event_id, NULL, NULL FROM l WHERE ts IS NULL
)
SELECT b.event_id, b.user_id,
       CASE WHEN take_back THEN b_us ELSE f_us END AS view_ts_us,
       CASE WHEN take_back THEN b_val ELSE f_val END AS v_view,
       CASE WHEN take_back THEN epoch_us(b.ts) - b_us
            ELSE f_us - epoch_us(b.ts) END AS gap_us
FROM (
  SELECT b.*, f.f_us, f.f_val,
         b.b_us IS NOT NULL AND
         (f.f_us IS NULL OR
          epoch_us(b.ts) - b.b_us <= f.f_us - epoch_us(b.ts))
           AS take_back
  FROM back b JOIN fwd f USING (event_id)
) b
"""


ORACLES["window_zscore_rolling"] = f"""
WITH base AS (
  SELECT event_id, user_id, ts,
         CAST(floor(CAST(value AS DOUBLE) * 10000.0 + 0.5) AS BIGINT) AS vi
  FROM events
  WHERE value IS NOT NULL AND ts IS NOT NULL AND user_id IS NOT NULL
), stats AS (
  SELECT event_id, user_id, vi,
         CAST(count(*) OVER w AS BIGINT) AS m,
         CAST(sum(vi) OVER w AS BIGINT) AS s,
         -- HUGEINT: vi*vi wraps int64 in Spark / raises here once
         -- |value| passes ~3e5 (Spark mirrors with DECIMAL(38,0))
         sum(CAST(vi AS HUGEINT) * vi) OVER w AS ss
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {P.ZSCORE_WINDOW - 1} PRECEDING
               AND CURRENT ROW)
)
SELECT event_id, user_id, m AS n_window,
       {_dec(
         "CASE WHEN m >= 2 AND CAST(m AS HUGEINT) * ss - "
         "CAST(s AS HUGEINT) * s > 0 "
         "THEN CAST(CAST(m AS HUGEINT) * vi - s AS DOUBLE) "
         "/ sqrt(CAST(CAST(m AS HUGEINT) * ss - CAST(s AS HUGEINT) * s "
         "AS DOUBLE)) END", 6)} AS z
FROM stats
"""


# streaming twin: the replayed register fold must equal the batch
# sketch exactly — same SQL as sketch_hll (stream/batch equivalence
# pin #5)
ORACLES["stream_hll"] = ORACLES["sketch_hll"]
