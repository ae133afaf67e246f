"""Declared StructTypes.

Two schema families:

1. **Fixture tables** (``/root/testdata/sf*/*.parquet``) — the
   TPC-H-ish corpus every ``queries()`` entry runs on. Types verified
   against the parquet footers (FIXTURES.md).

2. **Reference-domain tables** — distilled from the reference's
   target DDL (``services/etlService.js:244-591``): the change-log
   (``models/EtlLogger.js:6-17``), a one-to-one profile table
   (K2 upsert path), a bridge table + parcel table (J1 two-step
   join), and a one-to-many table (K3 delete+insert path). Used by
   the incremental-sync pipeline tests (SURVEY §3.1).

The reference infers schemas from the first row of each batch
(``etlService.js:119,134``); declaring them is the 100 TB fix
(SURVEY §7.3.5) — ragged rows fail fast instead of silently
generating wrong DML.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------- fixtures

FIXTURE_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            # stored as Timestamp(MICROS, isAdjustedToUTC=false) —
            # read as NTZ (exact parquet semantics); the loader casts
            # to session-TZ timestamp (UTC) for downstream queries
            T.StructField("ts", T.TimestampNTZType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

# ------------------------------------------------- reference-domain tables

#: change-log / CDC table — mirrors ``etl_logger_profiling``
#: (columns per ``models/EtlLogger.js:8-9``). ``table`` is a reserved
#: word in some dialects (the reference backtick-quotes it,
#: ``EtlLogger.js:9``); Spark handles quoting natively.
CHANGELOG_SCHEMA = T.StructType(
    [
        T.StructField("log_id", T.LongType(), False),
        T.StructField("rsbsa_no", T.StringType(), True),
        T.StructField("table", T.StringType(), True),
    ]
)

#: one-to-one profile table — distilled from ``farmers_kyc1`` DDL
#: (``services/etlService.js:244-301``). Upsert path (K2).
FARMER_PROFILE_SCHEMA = T.StructType(
    [
        T.StructField("rsbsa_no", T.StringType(), False),
        T.StructField("first_name", T.StringType(), True),
        T.StructField("surname", T.StringType(), True),
        T.StructField("data_source", T.StringType(), True),  # ENUM domain, §1.2
        T.StructField("sex", T.IntegerType(), True),  # TINYINT(1) bool-ish
        T.StructField("birthday", T.DateType(), True),
        T.StructField("brgy", T.StringType(), True),  # ZEROFILL geo code
        T.StructField("gross_income", T.DecimalType(10, 2), True),
        T.StructField("c_date", T.TimestampType(), True),
    ]
)

#: bridge table — ``farmparcelownership`` (``etlService.js:575-591``);
#: many-to-many farmer↔parcel, drives the two-step join (J1).
PARCEL_OWNERSHIP_SCHEMA = T.StructType(
    [
        T.StructField("farmown_id", T.LongType(), False),
        T.StructField("parcel_id", T.StringType(), True),
        T.StructField("rsbsa_no", T.StringType(), True),
        T.StructField("own_status", T.StringType(), True),
        T.StructField("date_created", T.TimestampType(), True),
    ]
)

#: parcel table — ``farmparcel`` (``etlService.js:530-573``);
#: delete+insert path (K3), reached only via the bridge.
#: ``long`` is a reserved-word column (F3, ``etlService.js:135-138``).
PARCEL_SCHEMA = T.StructType(
    [
        T.StructField("parcel_id", T.StringType(), False),
        T.StructField("desc_location", T.StringType(), True),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("long", T.DoubleType(), True),
        T.StructField("farm_area", T.DecimalType(10, 4), True),
        T.StructField("active", T.StringType(), True),  # ENUM {'1','0'}
        T.StructField("date_created", T.TimestampType(), True),
    ]
)

#: one-to-many table — ``farmers_livelihood`` (``etlService.js:468-480``).
LIVELIHOOD_SCHEMA = T.StructType(
    [
        T.StructField("farmlivelihood_id", T.LongType(), False),
        T.StructField("rsbsa_no", T.StringType(), True),
        T.StructField("livelihood", T.StringType(), True),
        T.StructField("activity_work", T.StringType(), True),
        T.StructField("active", T.StringType(), True),
    ]
)

# ------------------------------------- full 12-table DDL inventory (K4)

# The reference manages exactly twelve target tables, each created
# idempotently before every load (``etlService.js:203-242`` dispatch,
# ``:244-591`` DDL bodies). The distilled schemas above cover each
# cardinality CLASS for the pipeline tests; the inventory below is the
# literal column-complete parity surface, declared compactly through a
# type-code spec so the mapping rules of SURVEY §1.2 live in ONE place:
#
#   pk    INT(11) AUTO_INCREMENT PRIMARY KEY  -> LongType, NOT NULL
#   spk   VARCHAR PRIMARY KEY                 -> StringType, NOT NULL
#   s     VARCHAR / TINYTEXT / LONGTEXT       -> StringType
#   i     INT(n)                              -> IntegerType
#   b     TINYINT(n)  (incl. (1) booleans)    -> ByteType (0/1/2
#         ternaries like validated ENUM('1','0','2') stay intact)
#   z:N   INT(N) UNSIGNED ZEROFILL geo        -> StringType, lpad to N
#   z:N:t TINYINT(N) UNSIGNED ZEROFILL geo    -> StringType, lpad to N
#         (ZEROFILL is digits-matter display padding — width recorded
#         in ZEROFILL_WIDTHS for the lpad-on-output rule; the STORAGE
#         type's unsigned range is recorded in ZEROFILL_MAX, because
#         display width is a rendering hint but TINYINT vs INT is a
#         hard storage bound: '1234' can never exist in a
#         TINYINT UNSIGNED column — etlService.js:277-280,537-540 are
#         TINYINT, :283-290,542-545 INT)
#   e:dom ENUM(...)                           -> StringType + domain
#         recorded in ENUM_DOMAINS for isin() CHECK-style validation
#   d2/d4 DECIMAL(10,2) / DECIMAL(10,4)       -> DecimalType
#   f     FLOAT(10,0) lat/long                -> DoubleType
#   dt    DATE                                -> DateType
#   ts    DATETIME / TIMESTAMP                -> TimestampType
#   geo   POLYGON / POINT (MySQL spatial)     -> StringType (WKT)

#: named ENUM value domains from the DDL bodies (dedup'd: the same
#: domain recurs across tables — e.g. ENUM('1','0') appears 14×).
ENUM_VALUE_SETS: dict[str, tuple[str, ...]] = {
    "data_source": ("FFRS", "NFFIS", "NCFRSS", "NIA", "FISHR"),
    "bool10": ("1", "0"),
    "tern102": ("1", "0", "2"),
    "occupation": ("active", "inactive"),
    "intercrop": ("1", "2"),
}

_DOMAIN_SPECS: dict[str, list[tuple[str, str]]] = {
    # etlService.js:244-301
    "farmers_kyc1": [
        ("kyc1_id", "pk"), ("farmerID", "s"), ("philsys_trn", "s"),
        ("philsys_pcn", "s"), ("sequence", "i"), ("rsbsa_no", "s"),
        ("source_rsbsa_no", "s"), ("data_source", "e:data_source"),
        ("other_sys_gen_id", "s"), ("other_sys_id", "s"),
        ("enrollment", "s"), ("file_picture", "s"), ("control_no", "s"),
        ("first_name", "s"), ("middle_name", "s"), ("surname", "s"),
        ("ext_name", "s"), ("mother_maiden_name", "s"),
        ("spouse_rsbsa_no", "s"), ("maiden_fname", "s"),
        ("maiden_mname", "s"), ("maiden_lname", "s"),
        ("maiden_extname", "s"), ("sex", "b"), ("birthday", "dt"),
        ("birth_place", "s"), ("birth_prv", "s"), ("birth_prv_mun", "s"),
        ("house_no", "s"), ("street", "s"), ("brgy1", "z:3:t"),
        ("mun1", "z:2:t"), ("prv1", "z:2:t"), ("reg1", "z:2:t"),
        ("geo_code", "s"), ("geocode", "s"), ("brgy", "z:3"),
        ("mun", "z:2"), ("prv", "z:3"), ("reg", "z:2"),
        ("ncr_brgy", "z:3"), ("ncr_mun", "z:2"), ("ncr_prv", "z:3"),
        ("ncr_reg", "z:2"), ("ncr_house_no", "s"), ("ncr_street", "s"),
        ("c_date", "ts"), ("clone_by_id", "s"),
        ("clone_by_fullname", "s"), ("date_cloned", "ts"),
        ("v1_v2", "b"),
    ],
    # etlService.js:303-345
    "farmers_kyc2": [
        ("kyc2_id", "pk"), ("rsbsa_no", "s"), ("contact_num", "s"),
        ("contact_num_question", "b"), ("mob_number_fname", "s"),
        ("mob_number_mname", "s"), ("mob_number_lname", "s"),
        ("mob_number_extname", "s"), ("landline_num", "s"),
        ("education", "b"), ("pwd", "b"), ("religion", "s"),
        ("civil_status", "b"), ("spouse", "s"), ("spouse_fname", "s"),
        ("spouse_mname", "s"), ("spouse_lname", "s"),
        ("spouse_extname", "s"), ("spouse_rsbsa_no", "s"),
        ("beneficiary_4ps", "b"), ("ind_ans", "b"), ("ind_id", "s"),
        ("gov_ans", "b"), ("gov_id", "s"), ("gov_id_num", "s"),
        ("hh_head", "b"), ("hh_head_name", "s"),
        ("hh_relationship", "s"), ("hh_no_members", "i"),
        ("hh_no_male", "i"), ("hh_no_female", "i"), ("fca_ans", "b"),
        ("fca_id", "s"), ("emergency_name", "s"),
        ("emergency_contact", "s"),
    ],
    # etlService.js:346-363
    "farmers_kyc3": [
        ("kyc3_id", "pk"), ("rsbsa_no", "s"), ("no_farm_parcels", "i"),
        ("arb", "b"), ("gross_income_farming", "d2"),
        ("gross_income_nonfarming", "d2"), ("vtc_date", "dt"),
        ("vtc_bgy_chair", "s"), ("vtc_agri_office", "s"),
        ("vtc_mafc_chair", "s"),
    ],
    # etlService.js:364-417
    "farmers_kyc4": [
        ("kyc4_id", "pk"), ("rsbsa_no", "s"), ("encoder_agency", "s"),
        ("encoder_id", "s"), ("encoder_fullname", "s"),
        ("encoder_id_updated", "s"), ("encoder_fullname_updated", "s"),
        ("date_created", "ts"), ("date_updated", "ts"),
        ("deceased", "e:bool10"), ("deceased_reason", "s"),
        ("ch_occupation", "e:occupation"),
        ("ch_occupation_reason", "s"), ("duplicated", "e:bool10"),
        ("duplicated_reason", "s"), ("duplicated_rsbsa_no", "s"),
        ("rffa2_cashout", "b"), ("validated", "e:tern102"),
        ("unvalidated_reason", "s"), ("validator_by_id", "s"),
        ("validator_fullname", "s"), ("date_validated", "ts"),
        ("submitted", "e:bool10"), ("date_submitted", "ts"),
        ("submitted_by_id", "s"), ("submitted_by_fullname", "s"),
        ("rfo_validated", "e:bool10"), ("rfo_date_validated", "ts"),
        ("rfo_validated_id", "s"), ("rfo_validated_fullname", "s"),
        ("online_applicant", "e:bool10"), ("checked_date", "ts"),
        ("checked", "e:bool10"), ("checked_by_id", "s"),
        ("checked_fullname", "s"),
        ("complete_cloned_by_fullname", "s"),
        ("complete_cloned_by_id", "s"), ("date_cloned_completed", "ts"),
        ("rsbsa_liveness_verified", "i"),
        ("rsbsa_last_liveness_date", "ts"),
        ("rsbsa_last_user_id_liveness", "s"),
        ("rsbsa_last_user_fullname_liveness", "s"),
        ("philsys_liveness_verified", "i"),
        ("philsys_last_liveness_date", "ts"),
        ("philsys_last_user_id_liveness", "s"),
        ("philsys_last_user_fullname_liveness", "s"),
    ],
    # etlService.js:418-434
    "farmers_attachments": [
        ("fatt_id", "pk"), ("rsbsa_no", "s"), ("filename", "s"),
        ("validity_file", "e:tern102"), ("date_created", "ts"),
        ("active", "e:bool10"), ("encoder_agency", "s"),
        ("encoder_id", "s"), ("encoder_fullname", "s"),
    ],
    # etlService.js:435-451
    "farmers_fca": [
        ("id", "pk"), ("rsbsa_no", "s"), ("fca_id", "s"),
        ("fca_name", "s"), ("date_created", "ts"),
        ("active", "e:bool10"), ("encoder_agency", "s"),
        ("encoder_id", "s"), ("encoder_fullname", "s"),
    ],
    # etlService.js:452-467
    "farmers_form_attachments": [
        ("ffatt_id", "pk"), ("rsbsa_no", "s"), ("filename", "s"),
        ("date_created", "ts"), ("active", "e:bool10"),
        ("encoder_agency", "s"), ("encoder_id", "s"),
        ("encoder_fullname", "s"),
    ],
    # etlService.js:468-481
    "farmers_livelihood": [
        ("farmlivelihoodID", "pk"), ("rsbsa_no", "s"),
        ("livelihood", "s"), ("activity_work", "s"), ("specify", "s"),
        ("active", "e:bool10"),
    ],
    # etlService.js:482-511
    "farmparcelactivity": [
        ("farmlanddetailsID", "pk"), ("parcel_id", "s"),
        ("rsbsa_no", "s"), ("crop_id", "i"), ("size", "d4"),
        ("temp_size", "d4"), ("orig", "d4"), ("no_heads", "i"),
        ("farm_type", "b"), ("organic", "b"), ("active", "e:bool10"),
        ("encoder_agency", "s"), ("encoder_id", "s"),
        ("encoder_fullname", "s"), ("date_created", "ts"),
        ("slip_b_update", "b"), ("from_slip_b_update", "b"),
        ("intercrop", "e:intercrop"), ("crop_date_start", "b"),
        ("crop_date_end", "b"), ("gpx_id", "s"),
    ],
    # etlService.js:512-529
    "farmparcelattachments": [
        ("att_id", "pk"), ("parcel_id", "s"), ("rsbsa_no", "s"),
        ("file_name", "s"), ("active", "e:bool10"),
        ("encoder_agency", "s"), ("encoder_id", "s"),
        ("encoder_fullname", "s"), ("date_created", "ts"),
    ],
    # etlService.js:530-573 — `long` is the reserved-word column (F3)
    "farmparcel": [
        ("parcel_id", "spk"), ("parcel_no", "b"), ("arb", "b"),
        ("ancestral", "b"), ("bgy1", "z:3:t"), ("mun1", "z:2:t"),
        ("prv1", "z:2:t"), ("reg1", "z:2:t"), ("geo_code", "s"),
        ("bgy", "z:3"), ("mun", "z:2"), ("prv", "z:3"), ("reg", "z:2"),
        ("desc_location", "s"), ("parcel_geo_pol", "geo"),
        ("parcel_geo_point", "geo"), ("lat", "f"), ("long", "f"),
        ("farm_area", "d4"), ("temp_farm_area", "d4"),
        ("unit_measure", "s"), ("own_doc", "b"), ("own_doc_no", "s"),
        ("type", "b"), ("owner_firstname", "s"),
        ("owner_lastname", "s"), ("owner_extname", "s"),
        ("owner_ans", "b"), ("owner_rsbsa_no", "s"),
        ("farmers_rotation_fullname", "s"),
        ("farmers_rotation_rsbsa_no", "s"), ("remarks", "s"),
        ("attachment", "s"), ("active", "e:bool10"),
        ("date_created", "ts"), ("slip_b_update", "b"),
        ("from_slip_b_update", "b"),
    ],
    # etlService.js:575-591
    "farmparcelownership": [
        ("farmownID", "pk"), ("parcel_id", "s"), ("rsbsa_no", "s"),
        ("own_status", "s"), ("date_created", "ts"),
        ("active", "e:bool10"), ("encoder_agency", "s"),
        ("encoder_id", "s"), ("encoder_fullname", "s"),
    ],
}

_CODE_TYPES: dict[str, T.DataType] = {
    "pk": T.LongType(), "spk": T.StringType(), "s": T.StringType(),
    "i": T.IntegerType(), "b": T.ByteType(), "d2": T.DecimalType(10, 2),
    "d4": T.DecimalType(10, 4), "f": T.DoubleType(), "dt": T.DateType(),
    "ts": T.TimestampType(), "geo": T.StringType(),
}


def _build_domain_tables() -> tuple[
    dict[str, T.StructType],
    dict[tuple[str, str], tuple[str, ...]],
    dict[tuple[str, str], int],
    dict[tuple[str, str], int],
]:
    tables: dict[str, T.StructType] = {}
    enums: dict[tuple[str, str], tuple[str, ...]] = {}
    zerofill: dict[tuple[str, str], int] = {}
    zmax: dict[tuple[str, str], int] = {}
    for name, spec in _DOMAIN_SPECS.items():
        fields = []
        for col, code in spec:
            if code.startswith("e:"):
                enums[(name, col)] = ENUM_VALUE_SETS[code[2:]]
                dtype: T.DataType = T.StringType()
            elif code.startswith("z:"):
                parts = code.split(":")
                zerofill[(name, col)] = int(parts[1])
                # unsigned storage range of the DDL's integer type —
                # TINYINT UNSIGNED caps at 255, INT UNSIGNED at 2^32-1
                zmax[(name, col)] = (
                    255 if len(parts) > 2 and parts[2] == "t" else 4294967295
                )
                dtype = T.StringType()
            else:
                dtype = _CODE_TYPES[code]
            fields.append(
                T.StructField(col, dtype, nullable=code not in ("pk", "spk"))
            )
        tables[name] = T.StructType(fields)
    return tables, enums, zerofill, zmax


#: the literal 12-table target inventory; ENUM_DOMAINS holds the
#: CHECK-style isin() domains (Spark has no ENUM type),
#: ZEROFILL_WIDTHS the lpad display widths for geo codes, and
#: ZEROFILL_MAX each geo code's unsigned STORAGE range bound (display
#: width is a rendering hint; the integer type is a hard constraint) —
#: all keyed (table, column), consumed by
#: ``operators.filters.check_domains``.
DOMAIN_TABLES, ENUM_DOMAINS, ZEROFILL_WIDTHS, ZEROFILL_MAX = (
    _build_domain_tables()
)
