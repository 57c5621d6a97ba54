"""Query catalog: one named query per SURVEY.md §2 operator (plus the
training-data extensions), each with a DuckDB oracle twin.

This is the driver-facing correctness surface (__spark_entry__.py
imports it). Conventions enforced throughout:

- every computed column is aliased IDENTICALLY in the Spark plan and
  the oracle SQL (the driver sorts columns by name and value-hashes);
- hashing is md5 (same lowercase hex in both engines); "min" choices
  are lexicographic; floating aggregates are either cast to DECIMAL
  before summing (exact, order-independent) or rounded after;
- no wall-clock, no RNG — every derivation is a pure function of the
  input tables, so runs are replayable (SURVEY §7.4.7).

Registry:  QUERIES[name] -> (spark, sf_dir) -> DataFrame
           ORACLES[name] -> ANSI SQL string (absent ⇒ rows-only check)
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mongodb_etl_migration_spark.catalog import Catalog
from mongodb_etl_migration_spark.functions import crypto as X
from mongodb_etl_migration_spark.functions import keys as K
from mongodb_etl_migration_spark.functions import scalars as S
from mongodb_etl_migration_spark.operators import (
    chat as CH,
    dedup as D,
    denorm as DN,
    events as EV,
    graph as G,
    hierarchy as H,
    multimodal as M,
    profiling as PR,
    similarity as SIM,
    skew as SK,
    text as T,
    unigram as U,
    validation as V,
    web as WB,
    wordpiece as WP,
)
from mongodb_etl_migration_spark.streaming.incremental import windowed_event_counts

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# =====================================================================
# §2.1 Scans
# =====================================================================

@query(
    "s1_filtered_scan",
    """
    SELECT l_orderkey, l_partkey, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-06-01' AND l_returnflag = 'R'
    """,
)
def s1_filtered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: predicate-pushdown scan (mongo find() analogue,
    mongo_extractor.py:28-103). .explain shows PushedFilters on the
    parquet scan."""
    li = Catalog(spark, sf_dir).lineitem
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1995-06-01 00:00:00").cast("timestamp_ntz"))
        & (F.col("l_returnflag") == "R")
    ).select("l_orderkey", "l_partkey", "l_quantity", "l_shipdate")


_IN_KEYS = [1, 2, 3, 5, 8, 13, 21, 34, 55, 89, 144, 233, 377, 610, 987]


@query(
    "s3_point_in_scan",
    f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders WHERE o_orderkey IN ({", ".join(map(str, _IN_KEYS))})
    """,
)
def s3_point_in_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: point/IN scan — mongo_extractor.py:239-279."""
    o = Catalog(spark, sf_dir).orders
    return o.filter(F.col("o_orderkey").isin(_IN_KEYS)).select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )


@query(
    "s4_source_count",
    """
    SELECT count(*) AS cnt FROM events
    WHERE event_type = 'click' AND value > 10
    """,
)
def s4_source_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: filtered source count — mongo_extractor.py:170-193."""
    e = Catalog(spark, sf_dir).events
    return e.filter((F.col("event_type") == "click") & (F.col("value") > 10)).agg(
        F.count("*").alias("cnt")
    )


# =====================================================================
# §2.2 Predicates / projections
# =====================================================================

@query(
    "p4_message_predicate",
    """
    SELECT event_id, user_id, event_type, value FROM events
    WHERE event_type NOT IN ('error', 'signup')
      AND (value IS NULL OR value >= 20)
    """,
)
def p4_message_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4/P5: the banned-type + missing-counts-as-active predicate with
    tri-valued NULL semantics — mongo_extractor.py:56-72 (SURVEY
    §7.4.6)."""
    e = Catalog(spark, sf_dir).events
    return e.filter(
        ~F.col("event_type").isin("error", "signup")
        & (F.col("value").isNull() | (F.col("value") >= 20))
    ).select("event_id", "user_id", "event_type", "value")


@query(
    "p2_coalesce_projection",
    """
    SELECT c_custkey,
           coalesce(nullif(c_mktsegment, ''), 'UNKNOWN') AS segment,
           coalesce(nullif(upper(c_name), ''), 'Customer#unknown') AS display_name
    FROM customer
    """,
)
def p2_coalesce_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1/P2: declarative projection with drift-coalescing accessors —
    field_mapper.py:18-354 (doc.get(a) or doc.get(b))."""
    c = Catalog(spark, sf_dir).customer
    return c.select(
        "c_custkey",
        S.coalesce_nonempty("c_mktsegment").alias("segment_raw"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("")), F.lit("UNKNOWN")).alias(
            "segment"
        ),
        F.coalesce(
            F.nullif(F.upper(F.col("c_name")), F.lit("")), F.lit("Customer#unknown")
        ).alias("display_name"),
    ).select("c_custkey", "segment", "display_name")


@query(
    "p7_filter_then_project",
    """
    SELECT o_orderkey, upper(o_orderpriority) AS priority,
           CAST(round(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(0.9 AS DECIMAL(2,1)), 2)
                AS DOUBLE) AS discounted
    FROM orders WHERE o_orderstatus <> 'F'
    """,
)
def p7_filter_then_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7: sentinel-drop transforms hoisted into filter-before-project
    (data_transformer.py:79-81 returns None ⇒ drop; SURVEY §7.4.4).
    The discount math runs in DECIMAL (exact, engine-independent: the
    scale-3 product's .005 ties round half-away-from-zero identically
    for these positive prices), then the already-rounded value is cast
    to DOUBLE so both engines emit the same float64 — a DECIMAL output
    column would surface as `Decimal('960.65')` vs `960.65` in the
    driver's hash (round-1 hash-fail)."""
    o = Catalog(spark, sf_dir).orders
    return o.filter(F.col("o_orderstatus") != "F").select(
        "o_orderkey",
        F.upper("o_orderpriority").alias("priority"),
        F.round(
            F.col("o_totalprice").cast("decimal(18,2)")
            * F.lit("0.9").cast("decimal(2,1)"),
            2,
        )
        .cast("double")
        .alias("discounted"),
    )


# =====================================================================
# §2.3 Scalar functions
# =====================================================================

@query(
    "f_string_normalize",
    """
    SELECT c_custkey,
           lower(trim(c_name)) AS email_norm,
           regexp_replace(c_name, '[^0-9]', '', 'g') AS phone_pg,
           CASE WHEN length(regexp_replace(c_name, '[^0-9]', '', 'g')) > 0
                THEN '+' || regexp_replace(c_name, '[^0-9]', '', 'g')
                ELSE regexp_replace(c_name, '[^0-9]', '', 'g') END AS phone_cass,
           CASE WHEN length(regexp_replace(upper(c_name), '[^A-Z0-9]', '', 'g')) >= 7
                THEN CASE WHEN substr(regexp_replace(upper(c_name), '[^A-Z0-9]', '', 'g'), 1, 1) IN ('V','E','J','G','P')
                          THEN substr(regexp_replace(upper(c_name), '[^A-Z0-9]', '', 'g'), 1, 1) || '-' ||
                               substr(regexp_replace(upper(c_name), '[^A-Z0-9]', '', 'g'), 2)
                          ELSE 'V-' || regexp_replace(upper(c_name), '[^A-Z0-9]', '', 'g') END
                ELSE regexp_replace(upper(c_name), '[^A-Z0-9]', '', 'g') END AS dni
    FROM customer
    """,
)
def f_string_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F2/F3: email, phone (both destinations' forms), DNI —
    data_transformer.py:222-236, validators.py:191-215."""
    c = Catalog(spark, sf_dir).customer
    return c.select(
        "c_custkey",
        S.email_normalize("c_name").alias("email_norm"),
        S.phone_digits("c_name").alias("phone_pg"),
        S.phone_e164ish("c_name").alias("phone_cass"),
        S.dni_format("c_name").alias("dni"),
    )


@query(
    "f_gender_room_type",
    """
    SELECT c_custkey,
           CASE g WHEN 'Masculino' THEN 'M' WHEN 'Femenino' THEN 'F'
                  WHEN 'M' THEN 'M' WHEN 'F' THEN 'F' ELSE '' END AS gender,
           CASE WHEN c_custkey % 7 = 0 THEN 'broadcast'
                WHEN c_custkey % 3 = 0 THEN 'group'
                ELSE 'p2p' END AS room_type
    FROM (SELECT c_custkey,
                 CASE c_custkey % 5 WHEN 0 THEN 'Masculino' WHEN 1 THEN 'Femenino'
                      WHEN 2 THEN 'M' WHEN 3 THEN 'F' ELSE 'otro' END AS g
          FROM customer) t
    """,
)
def f_gender_room_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F4/F8: enumerated-value normalization chains —
    data_transformer.py:246-253, field_mapper.py:360-368. Input codes
    derived deterministically from c_custkey."""
    c = Catalog(spark, sf_dir).customer
    g = (
        F.when(F.col("c_custkey") % 5 == 0, "Masculino")
        .when(F.col("c_custkey") % 5 == 1, "Femenino")
        .when(F.col("c_custkey") % 5 == 2, "M")
        .when(F.col("c_custkey") % 5 == 3, "F")
        .otherwise("otro")
    )
    return c.select(
        "c_custkey",
        S.gender_normalize(g).alias("gender"),
        S.room_type(F.col("c_custkey") % 7 == 0, F.col("c_custkey") % 3 == 0).alias(
            "room_type"
        ),
    )


@query(
    "f_url_rewrite",
    """
    SELECT doc_id,
           regexp_replace(
             CASE WHEN doc_id % 3 = 0
                  THEN 'gs://sibci-devel.appspot.com/files/' || source || '/' || doc_id || '.bin'
                  WHEN doc_id % 3 = 1
                  THEN 'gs://sibci-2f7fc.appspot.com/' || source || '/' || doc_id || '.bin'
                  ELSE 'https://cdn.example.com/' || source || '/' || doc_id || '.bin' END,
             'gs://sibci-(devel|2f7fc)\\.appspot\\.com/?', 'siscom_old/', 'g') AS url
    FROM documents
    """,
)
def f_url_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: legacy GCS bucket prefix rewrite — field_mapper.py:370-390."""
    d = Catalog(spark, sf_dir).documents
    url = (
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("gs://sibci-devel.appspot.com/files/"),
                F.col("source"), F.lit("/"), F.col("doc_id"), F.lit(".bin"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.lit("gs://sibci-2f7fc.appspot.com/"),
                F.col("source"), F.lit("/"), F.col("doc_id"), F.lit(".bin"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://cdn.example.com/"),
                F.col("source"), F.lit("/"), F.col("doc_id"), F.lit(".bin"),
            )
        )
    )
    return d.select("doc_id", S.bucket_url_rewrite(url).alias("url"))


@query(
    "f_path_functions",
    """
    SELECT doc_id, path,
           CASE WHEN path = '/' THEN 0
                ELSE length(path) - length(replace(path, '/', '')) END AS depth,
           CASE WHEN regexp_replace(path, '/[^/]+$', '') = '' THEN '/'
                ELSE regexp_replace(path, '/[^/]+$', '') END AS parent,
           CASE WHEN path = '/' THEN '/leaf' ELSE path || '/leaf' END AS child_path
    FROM (SELECT doc_id, '/' || source || '/' || lang AS path FROM documents)
    """,
)
def f_path_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F16/F17: materialized-path depth / parent / join —
    orchestrator.py:778-783,839-844."""
    d = Catalog(spark, sf_dir).documents
    path = F.concat(F.lit("/"), F.col("source"), F.lit("/"), F.col("lang"))
    return d.select(
        "doc_id",
        path.alias("path"),
        S.path_depth(path).cast("bigint").alias("depth"),
        S.parent_path(path).alias("parent"),
        S.full_path(path, F.lit("leaf")).alias("child_path"),
    )


@query(
    "f_mime_and_defaults",
    """
    SELECT doc_id, file_type, file_url,
           CASE WHEN file_type = 'IMAGEN' THEN 'image/png'
                WHEN file_type = 'VIDEO' THEN 'video/mp4'
                WHEN file_type = 'AUDIO' THEN 'audio/mp3'
                WHEN file_type = 'DOCUMENTO' AND lower(file_url) LIKE '%.pdf'
                     THEN 'application/pdf'
                ELSE NULL END AS mime_type,
           coalesce(nullif(CASE WHEN doc_id % 4 = 0 THEN '' ELSE CAST(doc_id % 97 AS VARCHAR) END, ''), '0') AS key_int,
           upper(coalesce(CASE WHEN doc_id % 5 = 0 THEN NULL ELSE 'member' END, 'member')) AS role,
           regexp_replace('USER' || '_ROLE', '_ROLE$', '') AS role_name,
           CAST(doc_id AS VARCHAR) || '_' || source AS lineage_key
    FROM (SELECT doc_id, source,
                 CASE doc_id % 5 WHEN 0 THEN 'IMAGEN' WHEN 1 THEN 'VIDEO'
                      WHEN 2 THEN 'AUDIO' WHEN 3 THEN 'DOCUMENTO' ELSE 'OTRO' END AS file_type,
                 CASE WHEN doc_id % 2 = 0 THEN 'file_' || doc_id || '.pdf'
                      ELSE 'file_' || doc_id || '.docx' END AS file_url
          FROM documents)
    """,
)
def f_mime_and_defaults(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F18–F21, F27: mime derivation, keyInt default, role cleanup,
    composite lineage keys — data_transformer.py:425-444,
    validators.py:158-163, id_mapper.py:110-117, orchestrator.py:1076."""
    d = Catalog(spark, sf_dir).documents
    file_type = (
        F.when(F.col("doc_id") % 5 == 0, "IMAGEN")
        .when(F.col("doc_id") % 5 == 1, "VIDEO")
        .when(F.col("doc_id") % 5 == 2, "AUDIO")
        .when(F.col("doc_id") % 5 == 3, "DOCUMENTO")
        .otherwise("OTRO")
    )
    file_url = F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(F.lit("file_"), F.col("doc_id"), F.lit(".pdf")),
    ).otherwise(F.concat(F.lit("file_"), F.col("doc_id"), F.lit(".docx")))
    key_int_src = F.when(F.col("doc_id") % 4 == 0, "").otherwise(
        (F.col("doc_id") % 97).cast("string")
    )
    role_src = F.when(F.col("doc_id") % 5 == 0, F.lit(None).cast("string")).otherwise(
        F.lit("member")
    )
    base = d.select(
        "doc_id", "source",
        file_type.alias("file_type"), file_url.alias("file_url"),
        key_int_src.alias("key_int_src"), role_src.alias("role_src"),
    )
    return base.select(
        "doc_id", "file_type", "file_url",
        S.mime_from_filetype("file_type", "file_url").alias("mime_type"),
        S.keyint_default("key_int_src").alias("key_int"),
        S.upper_role("role_src").alias("role"),
        S.role_name_normalize(F.lit("USER_ROLE")).alias("role_name"),
        S.composite_key(F.col("doc_id").cast("string"), "source").alias("lineage_key"),
    )


@query(
    "f_deleted_user_redaction",
    """
    SELECT c_custkey,
           CASE WHEN active THEN name ELSE 'Deleted User' END AS name,
           CASE WHEN active THEN email ELSE '' END AS email,
           CASE WHEN active THEN NULL ELSE name END AS deleted_name,
           CASE WHEN active THEN NULL ELSE email END AS deleted_email
    FROM (SELECT c_custkey, c_custkey % 10 <> 0 AS active,
                 c_name AS name, lower(c_name) || '@example.com' AS email
          FROM customer)
    """,
)
def f_deleted_user_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F28: conditional multi-column redaction of soft-deleted users —
    data_transformer.py:255-272."""
    c = Catalog(spark, sf_dir).customer
    active = F.col("c_custkey") % 10 != 0
    name = F.col("c_name")
    email = F.concat(F.lower(F.col("c_name")), F.lit("@example.com"))
    return c.select(
        "c_custkey",
        F.when(active, name).otherwise(F.lit("Deleted User")).alias("name"),
        F.when(active, email).otherwise(F.lit("")).alias("email"),
        F.when(active, F.lit(None).cast("string")).otherwise(name).alias("deleted_name"),
        F.when(active, F.lit(None).cast("string")).otherwise(email).alias("deleted_email"),
    )


@query(
    "f_json_extract",
    """
    SELECT event_id, CAST(json_extract_string(props, 'k') AS BIGINT) AS prop_k
    FROM events
    """,
)
def f_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: JSON field extraction from a string payload column —
    field_mapper.py:449-459 (to_json/from_json surface)."""
    e = Catalog(spark, sf_dir).events
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("prop_k"),
    )


# =====================================================================
# §2.4 Keys
# =====================================================================

@query(
    "k1_uuid5",
    """
    SELECT doc_id,
           '5' AS ver_nibble,
           true AS variant_ok
    FROM documents
    """,
)
def k1_uuid5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1: deterministic UUID5 surrogate keys
    (cassandra_id_mapper.py:45-71). DuckDB has no sha1, so the raw
    uuid can't be recomputed in SQL; instead the query emits the
    SQL-checkable per-row RFC-4122 invariants — version nibble '5'
    and variant bits in {8,9,a,b}. This is the BENCHMARKED plan and
    stays a pure narrow projection (JVM sha1 + substrings since r14 —
    zero shuffle, no Python hop); the cross-row uniqueness lives in
    k1b_uuid5_invariants so the oracle's needs never add a shuffle
    to the operator under measurement. Byte-exact uuid values are
    pinned by known-answer tests against Python's uuid.uuid5 in
    tests/test_functions_vectors (the reference's own check:
    validate_migration.py:234-270)."""
    d = Catalog(spark, sf_dir).documents
    u = d.select(
        "doc_id",
        K.uuid5_oid(F.concat(F.col("source"), F.lit(":"), F.col("doc_id"))).alias(
            "row_uuid"
        ),
    )
    return u.select(
        "doc_id",
        F.substring("row_uuid", 15, 1).alias("ver_nibble"),
        F.substring("row_uuid", 20, 1).isin("8", "9", "a", "b").alias(
            "variant_ok"
        ),
    )


@query(
    "k1b_uuid5_invariants",
    """
    SELECT count(*) AS n_uuids, 1 AS max_dup FROM documents
    """,
)
def k1b_uuid5_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K1 (verification): cross-row uniqueness of the UUID5 keys —
    any sha1 collision or nondeterministic input concat would surface
    as max_dup > 1 or n_uuids < count(documents). Split out of
    k1_uuid5 so the dup-count's groupBy shuffle (the oracle's need,
    not the operator's) never rides the benchmarked key-generation
    plan. groupBy(uuid).count() instead of a count-over-window: the
    partial aggregation collapses each uuid to one row map-side, so
    the shuffle carries ~one row per distinct uuid, and the second
    agg reduces that to two scalars."""
    d = Catalog(spark, sf_dir).documents
    u = d.select(
        K.uuid5_oid(F.concat(F.col("source"), F.lit(":"), F.col("doc_id"))).alias(
            "row_uuid"
        )
    )
    return (
        u.groupBy("row_uuid")
        .agg(F.count("*").alias("__dup"))
        .agg(
            F.count("*").alias("n_uuids"),
            F.max("__dup").cast("int").alias("max_dup"),
        )
    )


@query(
    "k2_timeuuid",
    """
    SELECT event_id,
           '1' AS ver_nibble,
           true AS variant_ok,
           true AS ts_roundtrip_ok,
           1 AS dup_count
    FROM events
    """,
)
def k2_timeuuid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2: deterministic TimeUUIDs from (mongo_id, created_at) —
    cassandra_id_mapper.py:116-138. The sha1-derived node/clock-seq
    bits aren't SQL-recomputable, but the layout invariants are:
    version nibble '1', RFC-4122 variant, per-uuid dup count, and —
    the strong one — a full 60-bit timestamp ROUNDTRIP: the v1 time
    fields are re-assembled from the uuid string JVM-side (conv base
    16→10) and must equal the source unix-millis exactly. That checks
    the temporal-prefix ordering property the reference's Cassandra
    schema relies on (create_scylla_database.cql:46) row-by-row."""
    e = Catalog(spark, sf_dir).events
    u = e.select(
        "event_id",
        F.unix_millis(F.col("ts").cast("timestamp")).alias("src_ms"),
        K.timeuuid_deterministic(
            F.col("event_id").cast("string"),
            F.unix_millis(F.col("ts").cast("timestamp")),
        ).alias("message_uuid"),
    )
    # RFC-4122 v1 layout: time_low(1-8) - time_mid(10-13) -
    # version(15) time_hi(16-18) - variant+clock_seq(20-23) - node.
    # 60-bit ts = time_hi || time_mid || time_low, in 100ns units
    # since 1582-10-15 (offset 0x01B21DD213814000).
    ts100 = F.conv(
        F.concat(
            F.substring("message_uuid", 16, 3),
            F.substring("message_uuid", 10, 4),
            F.substring("message_uuid", 1, 8),
        ),
        16,
        10,
    ).cast("bigint")
    w = Window.partitionBy("message_uuid")
    return u.select(
        "event_id",
        F.substring("message_uuid", 15, 1).alias("ver_nibble"),
        F.substring("message_uuid", 20, 1).isin("8", "9", "a", "b").alias(
            "variant_ok"
        ),
        # integer multiply, not `/`: 100-ns ticks exceed double's
        # 53-bit mantissa, and ts100 == ms*10000 + offset is exact
        (
            ts100
            == F.col("src_ms") * F.lit(10000) + F.lit(0x01B21DD213814000)
        ).alias("ts_roundtrip_ok"),
        F.count("*").over(w).cast("int").alias("dup_count"),
    )


@query(
    "k3_sequential_ids",
    """
    SELECT c_custkey, row_number() OVER (ORDER BY c_name) AS seq_id
    FROM customer
    """,
)
def k3_sequential_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3: contiguous sequential ids without a single-task global
    window — cassandra_id_mapper.py:212-230 re-expressed as
    range-partition + per-partition numbering + offsets."""
    c = Catalog(spark, sf_dir).customer
    return K.assign_sequential_ids(c, ["c_name"], "seq_id").select(
        "c_custkey", "seq_id"
    )


# =====================================================================
# §2.5 Joins
# =====================================================================

@query(
    "j1_fk_resolution",
    """
    SELECT o.o_orderkey, o.o_custkey, c.c_name, n.n_name, r.r_name
    FROM orders o
    LEFT JOIN customer c ON o.o_custkey = c.c_custkey
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN region r ON n.n_regionkey = r.r_regionkey
    """,
)
def j1_fk_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: FK-resolution chain as broadcast left joins (miss ⇒ NULL) —
    the IDMapper dict-cache (id_mapper.py:22-92) as Catalyst
    broadcast-hash-joins."""
    cat = Catalog(spark, sf_dir)
    return (
        cat.orders
        .join(F.broadcast(cat.customer), F.col("o_custkey") == F.col("c_custkey"), "left")
        .join(F.broadcast(cat.nation), F.col("c_nationkey") == F.col("n_nationkey"), "left")
        .join(F.broadcast(cat.region), F.col("n_regionkey") == F.col("r_regionkey"), "left")
        .select("o_orderkey", "o_custkey", "c_name", "n_name", "r_name")
    )


@query(
    "j3_normalized_key_join",
    """
    WITH dim AS (
      SELECT c_mktsegment AS seg_name,
             row_number() OVER (ORDER BY c_mktsegment) AS seg_id
      FROM (SELECT DISTINCT c_mktsegment FROM customer)
    )
    SELECT c.c_custkey, d.seg_id
    FROM (SELECT c_custkey, c_mktsegment || '_ROLE' AS role_ref FROM customer) c
    LEFT JOIN dim d ON regexp_replace(c.role_ref, '_ROLE$', '') = d.seg_name
    """,
)
def j3_normalized_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: join on a normalized key (strip _ROLE suffix) —
    id_mapper.py:98-136 + F19."""
    c = Catalog(spark, sf_dir).customer
    dim = K.assign_sequential_ids(
        c.select("c_mktsegment").distinct(), ["c_mktsegment"], "seg_id"
    ).select(F.col("c_mktsegment").alias("seg_name"), "seg_id")
    left = c.select(
        "c_custkey", F.concat(F.col("c_mktsegment"), F.lit("_ROLE")).alias("role_ref")
    )
    return left.join(
        F.broadcast(dim),
        S.role_name_normalize(F.col("role_ref")) == F.col("seg_name"),
        "left",
    ).select("c_custkey", "seg_id")


@query(
    "j4_m2m_explode",
    """
    SELECT DISTINCT c.c_custkey, p.p_partkey, p.p_brand
    FROM customer c
    CROSS JOIN unnest([ (c.c_custkey * 2) % 200,
                        (c.c_custkey * 3) % 200,
                        (c.c_custkey * 5) % 200 ]) AS t(ref)
    JOIN part p ON p.p_partkey = t.ref
    """,
)
def j4_m2m_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: array-valued reference → explode → resolve ids (inner joins
    drop misses) — orchestrator.py:1002-1104. The array column is
    synthesized deterministically from c_custkey."""
    cat = Catalog(spark, sf_dir)
    c = cat.customer
    refs = F.array(
        (F.col("c_custkey") * 2) % 200,
        (F.col("c_custkey") * 3) % 200,
        (F.col("c_custkey") * 5) % 200,
    )
    exploded = c.select("c_custkey", F.explode(refs).alias("ref"))
    return (
        exploded.join(
            F.broadcast(cat.part), F.col("ref") == F.col("p_partkey"), "inner"
        )
        .select("c_custkey", "p_partkey", "p_brand")
        .distinct()
    )


@query(
    "j5_top1_per_group",
    """
    SELECT o_custkey, o_orderkey AS last_orderkey,
           o_orderdate AS last_orderdate, o_totalprice AS last_totalprice
    FROM orders
    QUALIFY row_number() OVER (
      PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    """,
)
def j5_top1_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5/O2: top-1-per-group (last message per room) —
    orchestrator.py:1266-1276 as a window, not a join."""
    o = Catalog(spark, sf_dir).orders
    return DN.top1_per_group(
        o, ["o_custkey"], [F.desc("o_orderdate"), F.desc("o_orderkey")]
    ).select(
        "o_custkey",
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_orderdate").alias("last_orderdate"),
        F.col("o_totalprice").alias("last_totalprice"),
    )


@query(
    "j6_denormalized_view",
    """
    WITH last_order AS (
      SELECT o_custkey, o_orderkey AS last_orderkey,
             o_orderdate AS last_orderdate, o_totalprice AS last_totalprice
      FROM orders
      QUALIFY row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    )
    SELECT c.c_custkey, c.c_name, c.c_mktsegment, n.n_name AS nation,
           lo.last_orderkey, lo.last_orderdate, lo.last_totalprice
    FROM customer c
    LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
    LEFT JOIN last_order lo ON lo.o_custkey = c.c_custkey
    """,
)
def j6_denormalized_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: rooms_by_user-style denormalized wide view (entity ⟕ dims ⟕
    last-event) — orchestrator.py:1235-1407. The engine's flagship
    query (entry())."""
    cat = Catalog(spark, sf_dir)
    last = DN.top1_per_group(
        cat.orders, ["o_custkey"], [F.desc("o_orderdate"), F.desc("o_orderkey")]
    ).select(
        F.col("o_custkey"),
        F.col("o_orderkey").alias("last_orderkey"),
        F.col("o_orderdate").alias("last_orderdate"),
        F.col("o_totalprice").alias("last_totalprice"),
    )
    nation = cat.nation.select(
        F.col("n_nationkey").alias("c_nationkey"), F.col("n_name").alias("nation")
    )
    return cat.customer.join(
        F.broadcast(nation), ["c_nationkey"], "left"
    ).join(
        last, F.col("o_custkey") == F.col("c_custkey"), "left"
    ).select(
        "c_custkey", "c_name", "c_mktsegment", "nation",
        "last_orderkey", "last_orderdate", "last_totalprice",
    )


@query(
    "j7_pair_generation",
    """
    WITH firsts AS (
      SELECT user_id, list(event_id ORDER BY event_id) AS evs
      FROM (SELECT DISTINCT user_id, event_id FROM events)
      GROUP BY user_id HAVING count(*) >= 2
    )
    SELECT user_id, evs[1] AS user1, evs[2] AS user2 FROM firsts
    UNION ALL
    SELECT user_id, evs[2] AS user1, evs[1] AS user2 FROM firsts
    """,
)
def j7_pair_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: p2p pair table — both orderings of the first two members of
    each group — orchestrator.py:1130-1233."""
    e = Catalog(spark, sf_dir).events
    return DN.pair_generation(e, "user_id", "event_id").select(
        "user_id", "user1", "user2"
    )


@query(
    "j9_hierarchy_resolution",
    """
    WITH folders AS (
      SELECT DISTINCT '/' || source AS path, 1 AS depth FROM documents
      UNION
      SELECT DISTINCT '/' || source || '/' || lang AS path, 2 AS depth FROM documents
    ), ids AS (
      SELECT path, depth,
             CAST(row_number() OVER (ORDER BY depth, path) AS BIGINT) AS folder_id,
             CASE WHEN depth = 1 THEN '/'
                  ELSE regexp_replace(path, '/[^/]+$', '') END AS parent_path
      FROM folders
    )
    SELECT i.path, i.depth, i.folder_id,
           coalesce(p.folder_id, 0) AS parent_id
    FROM ids i LEFT JOIN ids p ON i.parent_path = p.path
    """,
)
def j9_hierarchy_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: materialized-path resolution — orchestrator.py:743-1000
    walks the tree level by level; here dense ids by (depth, path)
    plus one parent self-join, no loop. Folder tree synthesized from
    documents(source, lang)."""
    d = Catalog(spark, sf_dir).documents
    lvl1 = d.select(F.concat(F.lit("/"), F.col("source")).alias("path"))
    lvl2 = d.select(
        F.concat(F.lit("/"), F.col("source"), F.lit("/"), F.col("lang")).alias("path")
    )
    folders = lvl1.unionByName(lvl2).distinct()
    return H.resolve_folder_tree(folders, "path").select(
        "path", "depth", "folder_id", "parent_id"
    )


@query(
    "j10_orphan_check",
    """
    SELECT o.o_orderkey, o.o_custkey FROM orders o
    WHERE NOT EXISTS (
      SELECT 1 FROM customer c
      WHERE c.c_custkey = o.o_custkey AND c.c_custkey < 100)
    """,
)
def j10_orphan_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: NOT-EXISTS orphan detection via left-anti join —
    validate_migration.py:594-641 (parent set artificially truncated
    to force orphans)."""
    cat = Catalog(spark, sf_dir)
    parent = cat.customer.filter(F.col("c_custkey") < 100)
    return V.orphan_check(cat.orders, parent, "o_custkey", "c_custkey").select(
        "o_orderkey", "o_custkey"
    )


@query(
    "j11_semi_membership",
    """
    SELECT DISTINCT e.user_id FROM events e
    WHERE e.user_id NOT IN (SELECT c_custkey FROM customer)
    """,
)
def j11_semi_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11/U1: set-membership violation check (message rooms ⊆ known
    rooms) — validate_migration.py:183-228."""
    cat = Catalog(spark, sf_dir)
    return V.set_membership_violations(
        cat.events.select(F.col("user_id")),
        cat.customer.select(F.col("c_custkey").alias("user_id")),
        "user_id",
    )


# =====================================================================
# §2.6 Aggregations
# =====================================================================

@query(
    "a1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
                AS DOUBLE) AS sum_disc_price,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))
                    * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2))))
                AS DOUBLE) AS sum_charge,
           CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_price,
           CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1-family headline aggregation (TPC-H Q1 shape): map-side
    partial aggregation collapses 6M rows/SF to 4 groups before the
    shuffle.

    Numeric parity design (round-1 hash-fail root cause, VERDICT.md
    "What's wrong" #2): the arithmetic is DECIMAL end-to-end. Each
    source double is cast to a decimal of its natural scale FIRST
    (prices/quantities have 2 exact decimals, discount/tax 2 — the
    stored double is within half an ulp of that value, so the cast
    recovers it identically on every engine); products and sums of
    decimals are exact, so no per-row double→decimal rounding can
    diverge (the old plan cast the *double product* to DECIMAL(22,4),
    whose .00005 ties Spark and DuckDB broke differently). The final
    exact decimal aggregate is cast to DOUBLE — one deterministic
    round-to-nearest on an identical value — and averages divide that
    double by count(*) in IEEE arithmetic, identical on both engines.
    No DECIMAL column reaches the output (driver stringification
    trap)."""
    li = Catalog(spark, sf_dir).lineitem
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    qty = F.col("l_quantity").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    tax = F.col("l_tax").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    cnt = F.count("*")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).cast("double").alias("sum_qty"),
            F.sum(price).cast("double").alias("sum_base_price"),
            F.sum(price * (one - disc)).cast("double").alias("sum_disc_price"),
            F.sum(price * (one - disc) * (one + tax)).cast("double").alias("sum_charge"),
            (F.sum(qty).cast("double") / cnt).alias("avg_qty"),
            (F.sum(price).cast("double") / cnt).alias("avg_price"),
            (F.sum(disc).cast("double") / cnt).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


@query(
    "a2_group_count",
    "SELECT lang, source, count(*) AS cnt FROM documents GROUP BY lang, source",
)
def a2_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: GROUP BY counts — validate_migration.py:656-658."""
    d = Catalog(spark, sf_dir).documents
    return V.group_count(d, ["lang", "source"])


@query(
    "a3_max_resume",
    """
    SELECT max(o_orderkey) AS max_id, count(*) AS cnt,
           CAST(max(o_orderkey) + 1 AS BIGINT) AS next_id
    FROM orders
    """,
)
def a3_max_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: MAX(id) counter-resume — cassandra_id_mapper.py:212-230."""
    o = Catalog(spark, sf_dir).orders
    return o.agg(
        F.max("o_orderkey").alias("max_id"),
        F.count("*").alias("cnt"),
        (F.max("o_orderkey") + 1).cast("bigint").alias("next_id"),
    )


@query(
    "a4_distinct",
    "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
)
def a4_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: DISTINCT — validate_migration.py:186-188."""
    o = Catalog(spark, sf_dir).orders
    return o.select("o_orderstatus", "o_orderpriority").distinct()


@query(
    "a5_collect_per_group",
    """
    SELECT user_id,
           string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS event_types,
           count(DISTINCT event_type) AS n_types
    FROM events GROUP BY user_id
    """,
)
def a5_collect_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: collect-per-group (participants per room) —
    orchestrator.py:1270-1271. Sorted join keeps the value
    deterministic and oracle-comparable."""
    e = Catalog(spark, sf_dir).events
    return e.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias(
            "event_types"
        ),
        F.count_distinct("event_type").alias("n_types"),
    )


@query(
    "a6_conditional_agg",
    """
    SELECT user_id % 10 AS bucket,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
           CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT) AS high_value
    FROM events GROUP BY user_id % 10
    """,
)
def a6_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: conditional sums (success/error tallies) —
    orchestrator.py:1220-1221. Oracle sums are CAST to BIGINT: DuckDB
    sum(int) yields HUGEINT, which pandas surfaces as float64 and the
    driver hash sees as "196.0" vs Spark's "196" (round-1 hash-fail)."""
    e = Catalog(spark, sf_dir).events
    return e.groupBy((F.col("user_id") % 10).alias("bucket")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("purchases"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)).alias("errors"),
        F.sum(F.when(F.col("value") > 50, 1).otherwise(0)).alias("high_value"),
    )


@query(
    "o6_moving_avg",
    """
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
           / least(CAST(row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS DOUBLE), 3.0) AS moving_avg_3
    FROM orders
    """,
)
def o6_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6 (beyond-parity): sliding window frame — 3-order moving
    average of spend per customer. Exact decimal sum over a ROWS frame
    divided by the actual frame size (row_number-capped), final value
    one deterministic double division. One Exchange on the key."""
    from pyspark.sql import Window

    o = Catalog(spark, sf_dir).orders
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(-2, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        (
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .over(frame)
            .cast("double")
            / F.least(F.row_number().over(w).cast("double"), F.lit(3.0))
        ).alias("moving_avg_3"),
    )


@query(
    "f_levenshtein",
    """
    SELECT c.c_custkey, n.n_name,
           levenshtein(upper(c.c_mktsegment), n.n_name) AS edit_distance,
           levenshtein(upper(c.c_mktsegment), n.n_name)
             <= greatest(length(c.c_mktsegment), length(n.n_name)) * 0.5
             AS fuzzy_match
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    """,
)
def f_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching via edit distance (the
    migration-validation helper for near-miss name reconciliation) —
    integer Levenshtein is hash-exact across engines; the broadcast
    dim join keeps it one narrow pass."""
    cat = Catalog(spark, sf_dir)
    c, n = cat.customer, cat.nation
    dist = F.levenshtein(F.upper(c["c_mktsegment"]), n["n_name"])
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            "c_custkey",
            "n_name",
            dist.alias("edit_distance"),
            (
                dist
                <= F.greatest(F.length(c["c_mktsegment"]), F.length(n["n_name"]))
                * 0.5
            ).alias("fuzzy_match"),
        )
    )


@query(
    "v1_count_reconciliation",
    """
    SELECT 'orders_per_customer' AS check_name,
           (SELECT count(*) FROM customer) AS source_rows,
           (SELECT count(DISTINCT o_custkey) FROM orders) AS derived_rows,
           (SELECT count(DISTINCT o_custkey) FROM orders)
             >= (SELECT count(*) FROM customer) * 0.5 AS within_tolerance
    UNION ALL
    SELECT 'lineitems_per_order',
           (SELECT count(*) FROM orders),
           (SELECT count(DISTINCT l_orderkey) FROM lineitem),
           (SELECT count(DISTINCT l_orderkey) FROM lineitem)
             >= (SELECT count(*) FROM orders) * 0.95
    """,
)
def v1_count_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K4/A1 validation: cross-table record-count reconciliation rows
    (validate_migration.py:50-131's gate as a queryable report). One
    DECLARATIVE plan — the counts are uncorrelated scalar subqueries,
    so a single action computes the whole report (the previous shape
    ran four driver-side count() jobs and assembled rows by hand;
    at scale the driver round-trips serialize the audit)."""
    cat = Catalog(spark, sf_dir)
    cat.customer.createOrReplaceTempView("v1_customer")
    cat.orders.createOrReplaceTempView("v1_orders")
    cat.lineitem.createOrReplaceTempView("v1_lineitem")
    return spark.sql(
        """
        SELECT 'orders_per_customer' AS check_name,
               (SELECT count(*) FROM v1_customer) AS source_rows,
               (SELECT count(DISTINCT o_custkey) FROM v1_orders) AS derived_rows,
               (SELECT count(DISTINCT o_custkey) FROM v1_orders)
                 >= (SELECT count(*) FROM v1_customer) * 0.5 AS within_tolerance
        UNION ALL
        SELECT 'lineitems_per_order',
               (SELECT count(*) FROM v1_orders),
               (SELECT count(DISTINCT l_orderkey) FROM v1_lineitem),
               (SELECT count(DISTINCT l_orderkey) FROM v1_lineitem)
                 >= (SELECT count(*) FROM v1_orders) * 0.95
        """
    )


@query(
    "a10_percentiles",
    """
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS med_price,
           quantile_cont(o_totalprice, 0.9) AS p90_price,
           count(*) AS n
    FROM orders GROUP BY o_orderstatus
    """,
)
def a10_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 (beyond-parity): exact interpolated percentiles per group —
    the latency/price-distribution report shape. Spark's percentile()
    and DuckDB's quantile_cont use the same linear interpolation and
    verify bit-identical. At 100 TB switch to approx_percentile (a
    t-digest sketch, map-side combinable); exact percentile holds all
    group values — fine for bounded group counts, not for billions per
    group."""
    o = Catalog(spark, sf_dir).orders
    return o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("med_price"),
        F.expr("percentile(o_totalprice, 0.9)").alias("p90_price"),
        F.count("*").alias("n"),
    )


@query(
    "a13_approx_percentile_sketch",
    """
    SELECT o_orderstatus,
           quantile_cont(o_totalprice, 0.5) AS med_exact,
           true AS sketch_in_band
    FROM orders GROUP BY o_orderstatus
    """,
)
def a13_approx_percentile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 (beyond-parity): the quantile SKETCH path for groups too
    large to hold exactly (approx_percentile = Greenwald-Khanna,
    map-side combinable, bounded memory — the a10 docstring's "at
    100 TB" branch, made a first-class verified query).

    Invariant oracle (see a12): the exact median hash-checks against
    DuckDB, and the sketch must land inside the exact p40–p60 value
    band — a rank-error check matching the sketch's rank-accuracy
    contract (accuracy 100 → ≤1% rank error; p40/p60 is 10× slack).
    The raw sketch value is deliberately not emitted (implementation-
    specific across engines)."""
    o = Catalog(spark, sf_dir).orders
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.expr("percentile(o_totalprice, 0.5)").alias("med_exact"),
            F.expr("percentile(o_totalprice, 0.4)").alias("__p40"),
            F.expr("percentile(o_totalprice, 0.6)").alias("__p60"),
            F.expr("approx_percentile(o_totalprice, 0.5, 100)").alias("__apx"),
        )
        .select(
            "o_orderstatus",
            "med_exact",
            (
                (F.col("__apx") >= F.col("__p40"))
                & (F.col("__apx") <= F.col("__p60"))
            ).alias("sketch_in_band"),
        )
    )


_PIVOT_TYPES = ["click", "purchase", "view", "signup", "error"]


@query(
    "a11_pivot_counts",
    f"""
    SELECT user_id % 10 AS bucket,
           {", ".join(
               f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT)"
               f" AS n_{t}" for t in _PIVOT_TYPES
           )}
    FROM events GROUP BY user_id % 10
    """,
)
def a11_pivot_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 (beyond-parity): pivot — long events to one wide row per
    bucket with a count column per event type. The explicit value list
    keeps the schema static (no extra distinct-values job) and the
    plan a single hash aggregate, exactly like the conditional-sum
    oracle; absent combinations coalesce to 0."""
    e = Catalog(spark, sf_dir).events
    piv = (
        e.groupBy((F.col("user_id") % 10).alias("bucket"))
        .pivot("event_type", _PIVOT_TYPES)
        .count()
    )
    return piv.select(
        "bucket",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}")
            for t in _PIVOT_TYPES
        ],
    )


@query(
    "a12_approx_distinct",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_exact,
           true AS hll_err_ok
    FROM events GROUP BY event_type
    """,
)
def a12_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12 (beyond-parity): HyperLogLog++ distinct-count sketch — the
    cardinality primitive of any 100 TB profiling pass (exact
    count-distinct shuffles every distinct value; the sketch is a
    fixed few-KB state per group, partial-aggregated map-side).

    Driver-checkable via the invariant pattern: the exact count is
    hash-compared against the oracle, and the sketch must land within
    its configured relative error (rsd 5% → check at 3×rsd, far
    outside plausible HLL deviation) — so a broken sketch fails the
    boolean, while the hashed columns stay engine-deterministic
    (approx values themselves differ by HLL implementation and are
    deliberately NOT emitted)."""
    e = Catalog(spark, sf_dir).events
    return (
        e.groupBy("event_type")
        .agg(
            F.count_distinct(F.col("user_id")).alias("n_exact"),
            F.approx_count_distinct("user_id", rsd=0.05).alias("__hll"),
        )
        .select(
            "event_type",
            "n_exact",
            (
                F.abs(F.col("__hll") - F.col("n_exact"))
                <= F.greatest(
                    F.col("n_exact") * F.lit(0.15), F.lit(2.0)
                )
            ).alias("hll_err_ok"),
        )
    )


@query(
    "a7_first_wins_dedup",
    """
    SELECT user_id, event_id AS first_event, ts AS first_ts
    FROM events
    QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) = 1
    """,
)
def a7_first_wins_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: first-wins dedup with explicit deterministic ordering —
    cassandra_id_mapper.py:61-69 (SURVEY §7.4.3)."""
    e = Catalog(spark, sf_dir).events
    return DN.top1_per_group(e, ["user_id"], [F.col("ts"), F.col("event_id")]).select(
        "user_id", F.col("event_id").alias("first_event"), F.col("ts").alias("first_ts")
    )


# =====================================================================
# §2.7 Sorts / top-k      §2.8 Set ops
# =====================================================================

@query(
    "o2_global_topk",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
    """,
)
def o2_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2/O3: global top-k — compiles to TakeOrderedAndProject
    (per-partition heaps + k-row merge, no full sort)."""
    o = Catalog(spark, sf_dir).orders
    return o.select("o_orderkey", "o_custkey", "o_totalprice").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    ).limit(25)


@query(
    "u1_subtract",
    """
    SELECT event_id FROM events WHERE value > 50
    EXCEPT
    SELECT event_id FROM events WHERE event_type = 'click'
    """,
)
def u1_subtract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1: set difference — validate_migration.py:199-213."""
    e = Catalog(spark, sf_dir).events
    a = e.filter(F.col("value") > 50).select("event_id")
    b = e.filter(F.col("event_type") == "click").select("event_id")
    return a.exceptAll(b).distinct()


@query(
    "u2_union_side_outputs",
    """
    SELECT user_id, count(*) AS cnt FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT user_id FROM events WHERE event_type = 'view'
    ) GROUP BY user_id
    """,
)
def u2_union_side_outputs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2: union of side-outputs — orchestrator.py:962."""
    e = Catalog(spark, sf_dir).events
    a = e.filter(F.col("event_type") == "click").select("user_id")
    b = e.filter(F.col("event_type") == "view").select("user_id")
    return a.unionByName(b).groupBy("user_id").agg(F.count("*").alias("cnt"))


@query(
    "u3_intersect",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 95
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'error' AND value > 95
    """,
)
def u3_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3: set intersection (users who both purchased and hit an
    error) — completes the set-operator family next to u1's EXCEPT
    and u2's UNION. Plans as a left-semi hash join over distinct
    keys, one shuffle."""
    e = Catalog(spark, sf_dir).events
    a = e.filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 95)
    ).select("user_id")
    b = e.filter(
        (F.col("event_type") == "error") & (F.col("value") > 95)
    ).select("user_id")
    return a.intersect(b)


# =====================================================================
# Training-data extensions: dedup
# =====================================================================

# Shared synthetic-dup corpus: the generated documents have no natural
# duplicates, so dedup queries operate on documents ∪ exact copies
# (doc_id+1000000, every 10th doc) ∪ near copies (doc_id+2000000, every
# 17th doc with two tokens appended).
_CORPUS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 2000000, text || ' zq zq' FROM documents WHERE doc_id % 17 = 0
"""


def _corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    exact = d.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"), "text"
    )
    near = d.filter(F.col("doc_id") % 17 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zq zq")).alias("text"),
    )
    return d.unionByName(exact).unionByName(near)


@query(
    "d1_exact_dedup",
    f"""
    SELECT md5(text) AS content_hash, min(doc_id) AS representative_id,
           count(*) AS dup_count
    FROM ({_CORPUS_SQL})
    GROUP BY md5(text)
    """,
)
def d1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy with min-id representative."""
    return D.exact_dedup(_corpus(spark, sf_dir), "doc_id", "text")


_SHINGLE_SQL = f"""
    tokens AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM ({_CORPUS_SQL})
    ),
    shingled AS (
      SELECT DISTINCT doc_id, s.shingle
      FROM tokens,
           unnest(list_transform(range(1, len(toks) - 1),
                  i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             AS s(shingle)
    )
"""


# Affine MinHash family (one md5 per shingle, then (a*h+b) mod p) —
# constants shared with operators.dedup so Spark and the oracle compute
# the identical signature.
_MINHASH_FAMILY_SQL = ", ".join(
    f"({i}, {a}, {b})" for i, (a, b) in enumerate(D.affine_params(16))
)


@query(
    "d2_minhash_lsh_pairs",
    f"""
    WITH {_SHINGLE_SQL},
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {D.MINHASH_P} AS h
      FROM shingled
    ),
    sigs AS (
      SELECT doc_id, seed, min((a * h + b) % {D.MINHASH_P}) AS sig
      FROM hashed CROSS JOIN (VALUES {_MINHASH_FAMILY_SQL}) AS f(seed, a, b)
      GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(seed // 4 AS INT) AS band,
             md5(string_agg(seed || '=' || sig, '|' ORDER BY seed || '=' || sig)) AS band_key
      FROM sigs GROUP BY doc_id, CAST(seed // 4 AS INT)
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
    WHERE a.doc_id < b.doc_id
    """,
)
def d2_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (shingle→minhash→band→
    bucket-join). 16 hashes, 4 bands of 4."""
    return D.minhash_dedup_pairs(
        _corpus(spark, sf_dir), "doc_id", "text", k=3, num_hashes=16, bands=4
    )


@query(
    "d8_incremental_neardup",
    f"""
    WITH {_SHINGLE_SQL},
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {D.MINHASH_P} AS h
      FROM shingled
    ),
    sigs AS (
      SELECT doc_id, seed, min((a * h + b) % {D.MINHASH_P}) AS sig
      FROM hashed CROSS JOIN (VALUES {_MINHASH_FAMILY_SQL}) AS f(seed, a, b)
      GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(seed // 4 AS INT) AS band,
             md5(string_agg(seed || '=' || sig, '|' ORDER BY seed || '=' || sig)) AS band_key
      FROM sigs GROUP BY doc_id, CAST(seed // 4 AS INT)
    )
    SELECT DISTINCT n.doc_id AS id_new, i.doc_id AS id_indexed
    FROM bands n JOIN bands i ON n.band = i.band AND n.band_key = i.band_key
    WHERE n.doc_id >= 1000000 AND i.doc_id < 1000000
    """,
)
def d8_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup detection (dedup.neardup_probe): the
    historical corpus (original doc_ids) is banded ONCE as the index;
    the arriving batch (the planted +1M/+2M rows) is shingled/hashed
    alone and probes the index with a band equi-join — shuffle scales
    with the batch, never the 100 TB history. Same signature family
    as d2, so batch and incremental candidates agree; the oracle
    computes both sides' bands from one CTE and splits on the id
    range."""
    corpus = _corpus(spark, sf_dir)
    history = corpus.filter(F.col("doc_id") < 1000000).filter(
        F.size(T.tokens("text")) >= 3
    )
    isig = D.minhash_signatures_narrow(history, "doc_id", "text", 3, 16)
    index_band = D.lsh_bands(isig, "doc_id", 16, 4)
    batch = corpus.filter(F.col("doc_id") >= 1000000)
    return D.neardup_probe(batch, index_band, "doc_id", "text")


@query(
    "d5_minhash_estimate",
    f"""
    WITH {_SHINGLE_SQL},
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {D.MINHASH_P} AS h
      FROM shingled
    ),
    sigs AS (
      SELECT doc_id, seed, min((a * h + b) % {D.MINHASH_P}) AS sig
      FROM hashed CROSS JOIN (VALUES {_MINHASH_FAMILY_SQL}) AS f(seed, a, b)
      GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(seed // 4 AS INT) AS band,
             md5(string_agg(seed || '=' || sig, '|' ORDER BY seed || '=' || sig)) AS band_key
      FROM sigs GROUP BY doc_id, CAST(seed // 4 AS INT)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    )
    SELECT p.id_a, p.id_b,
           CAST(sum(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END) AS DOUBLE) / 16
             AS est_jaccard
    FROM pairs p
    JOIN sigs sa ON sa.doc_id = p.id_a
    JOIN sigs sb ON sb.doc_id = p.id_b AND sb.seed = sa.seed
    GROUP BY p.id_a, p.id_b
    """,
)
def d5_minhash_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5: Jaccard estimate from MinHash signatures for the LSH
    candidate pairs — the cheap verify stage that prunes candidates
    before the exact shingle-join (2×16 longs per pair instead of two
    shingle sets). Unbiased by the MinHash property."""
    corpus = _corpus(spark, sf_dir)
    # The signature frame feeds THREE subtrees (banding → candidate
    # pairs, and both rename-sides of the estimate join, which key on
    # different ids so ReuseExchange can't help) — one narrow
    # (id, 16 longs) materialization beats recomputing the md5
    # pipeline 3× over the corpus. Eager localCheckpoint, not
    # .persist(): a CacheManager entry is plan-keyed and lives until
    # someone explicitly unpersists it (a long-lived session running
    # this query repeatedly accumulates caches — round-3 heap creep),
    # while checkpoint blocks are freed by the ContextCleaner once the
    # result frame is dropped.
    sigs = (
        D.minhash_signatures_narrow(corpus, "doc_id", "text", k=3, num_hashes=16)
        .filter(F.col("sig_0").isNotNull())
        .localCheckpoint(eager=True)
    )
    bands = D.lsh_bands(sigs, "doc_id", num_hashes=16, bands=4)
    pairs = D.lsh_candidate_pairs(bands, "doc_id")
    return D.minhash_jaccard_estimate(sigs, pairs, "doc_id", num_hashes=16)


def _simhash_oracle(bits: int = 16) -> str:
    sums = ",\n             ".join(
        f"sum(CASE WHEN substr(md5(tok), {d + 1}, 1) IN "
        f"('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) AS b{d}"
        for d in range(bits)
    )
    concat = " || ".join(
        f"CASE WHEN b{d} > 0 THEN '1' ELSE '0' END" for d in range(bits)
    )
    return f"""
    WITH toked AS (
      SELECT doc_id, t.tok
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
            FROM documents),
           unnest(toks) AS t(tok)
    ),
    sums AS (
      SELECT doc_id,
             {sums}
      FROM toked GROUP BY doc_id
    )
    SELECT doc_id, {concat} AS simhash FROM sums
    """


@query("d3_simhash", _simhash_oracle(16))
def d3_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash signatures (16-bit, md5-nibble MSB features)."""
    d = Catalog(spark, sf_dir).documents
    return D.simhash_signature(d, "doc_id", "text", bits=16)


@query(
    "d4_ngram_jaccard",
    f"""
    WITH {_SHINGLE_SQL},
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingled GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM ({_CORPUS_SQL}) a
      JOIN ({_CORPUS_SQL}) b
        ON a.doc_id % 1000000 = b.doc_id % 1000000 AND a.doc_id < b.doc_id
    ),
    inter AS (
      SELECT p.id_a, p.id_b, count(*) AS i
      FROM pairs p
      JOIN shingled sa ON sa.doc_id = p.id_a
      JOIN shingled sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
      GROUP BY p.id_a, p.id_b
    )
    SELECT i.id_a, i.id_b,
           floor((CAST(i.i AS DOUBLE) / (za.sz + zb.sz - i.i)) * 10000 + 0.5)
             / 10000 + 0.0 AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.id_a
    JOIN sizes zb ON zb.doc_id = i.id_b
    """,
)
def d4_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard for candidate pairs. The synthetic
    congruent-mod-1e6 pairing here is a HARNESS for the verify
    operator only (known original↔copy pairs make the oracle exact);
    the production entry path feeds ``ngram_jaccard`` from
    ``lsh_candidate_pairs`` (as t_curation_pipeline does)."""
    corpus = _corpus(spark, sf_dir)
    sh = D.shingles(corpus, "doc_id", "text", 3)
    ids = corpus.select("doc_id")
    pairs = (
        ids.alias("a")
        .join(
            ids.alias("b"),
            (F.col("a.doc_id") % 1000000 == F.col("b.doc_id") % 1000000)
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    return D.ngram_jaccard(sh, pairs, "doc_id")


@query(
    "d10_containment",
    """
    WITH base AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ),
    corpus AS (
      SELECT doc_id, t FROM base
      UNION ALL
      -- planted excerpts: first 25 tokens of long-enough docs
      SELECT doc_id + 3000000, t[1:25] FROM base
      WHERE doc_id % 13 = 0 AND len(t) >= 28
    ),
    shingled AS (
      SELECT DISTINCT doc_id, s.shingle
      FROM corpus,
           unnest(list_transform(range(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
             AS s(shingle)
    ),
    sizes AS (SELECT doc_id, count(*) AS sz FROM shingled GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM corpus a JOIN corpus b ON a.doc_id + 3000000 = b.doc_id
    ),
    inter AS (
      SELECT p.id_a, p.id_b, count(*) AS i
      FROM pairs p
      JOIN shingled sa ON sa.doc_id = p.id_a
      JOIN shingled sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
      GROUP BY p.id_a, p.id_b
    )
    SELECT i.id_a, i.id_b,
           floor((CAST(i.i AS DOUBLE) / least(za.sz, zb.sz)) * 10000 + 0.5)
             / 10000 + 0.0 AS containment,
           floor((CAST(i.i AS DOUBLE) / (za.sz + zb.sz - i.i)) * 10000 + 0.5)
             / 10000 + 0.0 AS jaccard
    FROM inter i
    JOIN sizes za ON za.doc_id = i.id_a
    JOIN sizes zb ON zb.doc_id = i.id_b
    """,
)
def d10_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excerpt/quote detection via the overlap-containment coefficient
    (dedup.ngram_containment): planted 25-token prefixes of long docs
    score containment 1.0 against their originals while Jaccard stays
    low (both returned so the contrast is driver-verified) — the dedup
    signal a Jaccard threshold misses. Harness pairs are the known
    original↔excerpt ids (mod-3000000), the production path feeds
    LSH candidates exactly as d4's does."""
    d = Catalog(spark, sf_dir).documents
    base = d.select("doc_id", T.tokens("text").alias("t"))
    excerpts = base.filter(
        (F.col("doc_id") % 13 == 0) & (F.size("t") >= 28)
    ).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.slice("t", 1, 25).alias("t"),
    )
    corpus = base.unionByName(excerpts).select(
        "doc_id", F.array_join("t", " ").alias("text")
    )
    sh = D.shingles(corpus, "doc_id", "text", 3)
    ids = corpus.select("doc_id")
    pairs = (
        ids.alias("a")
        .join(ids.alias("b"), F.col("a.doc_id") + 3000000 == F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    cont = D.ngram_containment(sh, pairs, "doc_id")
    jac = D.ngram_jaccard(sh, pairs, "doc_id")
    return cont.join(jac, ["id_a", "id_b"])


# =====================================================================
# Training-data extensions: similarity search
# =====================================================================

_PLANE_IDS = [1, 2, 3, 4]


def _planes(spark: SparkSession, sf_dir: str) -> list[list[float]]:
    # 4-row collect: project the two needed columns (pruned scan) and
    # sort driver-side — the old .orderBy("vec_id") added a whole AQE
    # sort stage + exchange to every CONSTRUCTION of every LSH query
    # (sim_bitext_margin's warm construct phase ran 3 jobs for this
    # one collect; r14 job-level receipt). Same rows, same order.
    rows = (
        Catalog(spark, sf_dir)
        .embeddings.select("vec_id", "embedding")
        .filter(F.col("vec_id").isin(_PLANE_IDS))
        .collect()
    )
    rows.sort(key=lambda r: r["vec_id"])
    return [[float(x) for x in r["embedding"]] for r in rows]


def _query_vec(spark: SparkSession, sf_dir: str) -> list[float]:
    r = (
        Catalog(spark, sf_dir)
        .embeddings.filter(F.col("vec_id") == 0)
        .head()
    )
    return [float(x) for x in r["embedding"]]


@query(
    "sim_random_projection",
    """
    WITH qq AS MATERIALIZED (
      SELECT vec_id,
             list_transform(v, x -> CASE WHEN scale = 0 THEN 0
                                         ELSE CAST(floor(x / scale + 0.5) AS BIGINT)
                                    END)[:16] AS q
      FROM (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
                 AS scale
        FROM embeddings
      )
    ), rmat AS MATERIALIZED (
      SELECT j.j, k.k,
             CAST(('0x' || substring(md5('jl#' || j.j || '#' || k.k), 1, 15))
                  AS BIGINT) % 3 - 1 AS r
      FROM (SELECT unnest(range(1, 17)) AS j) j,
           (SELECT unnest(range(1, 5)) AS k) k
    ), ex AS MATERIALIZED (
      SELECT vec_id, unnest(q) AS x,
             unnest(range(1, len(q) + 1)) AS j
      FROM qq
    ), p AS (
      SELECT e.vec_id, r.k, CAST(sum(e.x * r.r) AS BIGINT) AS v
      FROM ex e JOIN rmat r ON e.j = r.j
      GROUP BY e.vec_id, r.k
    )
    SELECT vec_id,
           max(CASE WHEN k = 1 THEN v END) AS p1,
           max(CASE WHEN k = 2 THEN v END) AS p2,
           max(CASE WHEN k = 3 THEN v END) AS p3,
           max(CASE WHEN k = 4 THEN v END) AS p4
    FROM p GROUP BY vec_id
    """,
)
def sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss shrink 16→4 dims
    (similarity.random_projection_int): Achlioptas ±1 matrix derived
    per-entry from the 60-bit md5 idiom, so the oracle re-derives the
    IDENTICAL matrix from the same strings — RNG-free, engine- and
    rerun-stable. Int8-quantized inputs make every coordinate a long
    fold: zero shuffle, one scan; the oracle computes the projection
    relationally (unnest + matrix join + pivot)."""
    e = Catalog(spark, sf_dir).embeddings
    return SIM.random_projection_int(e, "vec_id", out_dims=4)



def _pq_query_q(dims: int = 64, scale: int = 10000, seed: str = "pqq") -> list[int]:
    """Deterministic already-quantized PQ query vector: element p =
    md5(seed#p) via the 60-bit idiom, mod-ranged into [-scale, scale]
    — the same derivation the oracle repeats in SQL."""
    import hashlib

    out = []
    for p in range(dims):
        h = hashlib.md5(f"{seed}#{p}".encode()).hexdigest()[:15]
        out.append(int(h, 16) % (2 * scale + 1) - scale)
    return out


_PQ_CB_SQL = """
    cb AS MATERIALIZED (
      SELECT s.s, c.c, e.e,
             CAST(('0x' || substring(md5('pq#' || s.s || '#' || c.c
                                          || '#' || e.e), 1, 15))
                  AS BIGINT) % 20001 - 10000 AS val
      FROM (SELECT unnest(range(0, 8)) AS s) s,
           (SELECT unnest(range(0, 16)) AS c) c,
           (SELECT unnest(range(0, 8)) AS e) e
    ), xq AS MATERIALIZED (
      SELECT vec_id,
             CAST(floor(embedding[pos]::DOUBLE * 10000 + 0.5) AS BIGINT)
               AS xq,
             (pos - 1) // 8 AS s, (pos - 1) % 8 AS e
      FROM embeddings, range(1, 65) t(pos)
    ), d AS MATERIALIZED (
      SELECT x.vec_id, x.s, b.c,
             CAST(sum((x.xq - b.val) * (x.xq - b.val)) AS BIGINT) AS d2
      FROM xq x JOIN cb b ON x.s = b.s AND x.e = b.e
      GROUP BY x.vec_id, x.s, b.c
    ), best AS (
      SELECT vec_id, s, c AS code, d2,
             row_number() OVER (PARTITION BY vec_id, s
                                ORDER BY d2, c) AS rn
      FROM d
    )
"""


@query(
    "sim_pq_encode",
    f"""
    WITH {_PQ_CB_SQL}
    SELECT vec_id,
           string_agg(CAST(code AS VARCHAR), '-' ORDER BY s) AS codes_str,
           CAST(sum(d2) AS BIGINT) AS d2_total
    FROM best WHERE rn = 1 GROUP BY vec_id
    """,
)
def sim_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (similarity.pq_encode, Jégou et
    al. 2011): 64-dim vectors → 8 subspace codes against 16-centroid
    codebooks — the ~100× memory shrink that decides whether a 100 TB
    embedding index fits executor memory. Codebook entries derive
    from the 60-bit md5 idiom (RNG-free; the oracle re-derives the
    IDENTICAL books in SQL), distances are integer squared sums on
    the shared 1e4 quantization grid (bit-identical argmins, ties to
    the smaller code), and the plan is a chain of narrow projections
    with the books folded in as literals — zero shuffle, zero join,
    zero UDF. d2_total is the per-vector quantization error, the
    index-quality audit column. Real TRAINED books (per-subspace
    k-means — the machinery sim_kmeans proves integer-exact) drop in
    unchanged."""
    emb = Catalog(spark, sf_dir).embeddings
    cb = SIM.derived_pq_codebooks(8, 16, 8)
    enc = SIM.pq_encode(emb, cb)
    return enc.select(
        "vec_id",
        F.array_join(
            F.transform("codes", lambda c: c.cast("string")), "-"
        ).alias("codes_str"),
        "d2_total",
    )


@query(
    "sim_pq_topk",
    f"""
    WITH {_PQ_CB_SQL}, qv AS MATERIALIZED (
      SELECT p.p,
             CAST(('0x' || substring(md5('pqq#' || p.p), 1, 15))
                  AS BIGINT) % 20001 - 10000 AS qq
      FROM (SELECT unnest(range(0, 64)) AS p) p
    ), lut AS MATERIALIZED (
      SELECT b.s, b.c,
             CAST(sum((q.qq - b.val) * (q.qq - b.val)) AS BIGINT) AS pd2
      FROM qv q JOIN cb b ON q.p // 8 = b.s AND q.p % 8 = b.e
      GROUP BY b.s, b.c
    ), score AS (
      SELECT x.vec_id, CAST(sum(l.pd2) AS BIGINT) AS adc_score
      FROM best x JOIN lut l ON x.s = l.s AND x.code = l.c
      WHERE x.rn = 1
      GROUP BY x.vec_id
    )
    SELECT vec_id, adc_score FROM score
    ORDER BY adc_score, vec_id LIMIT 25
    """,
)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k (similarity.pq_adc_topk) — the
    serving half: the query's per-subspace LUT (m·k longs, driver
    precompute) turns scoring a vector into an m-step table lookup
    over its CODES; at 100 TB the scan reads m bytes per vector, not
    d floats. The only data movement is TakeOrderedAndProject's
    per-partition heaps + driver merge (no global sort, no corpus
    shuffle); (score, vec_id) ordering is deterministic through ADC
    ties. Query vector and codebooks both md5-derived, so the oracle
    rebuilds LUT and codes from the same strings."""
    emb = Catalog(spark, sf_dir).embeddings
    cb = SIM.derived_pq_codebooks(8, 16, 8)
    qq = _pq_query_q()
    return SIM.pq_adc_topk(emb, qq, cb, topk=25).select(
        "vec_id", "adc_score"
    )



@query(
    "sim_ivfpq_topk",
    """
    WITH cb AS MATERIALIZED (
      SELECT s.s, c.c, e.e,
             CAST(('0x' || substring(md5('pq#' || s.s || '#' || c.c
                                          || '#' || e.e), 1, 15))
                  AS BIGINT) % 2501 - 1250 AS val
      FROM (SELECT unnest(range(0, 8)) AS s) s,
           (SELECT unnest(range(0, 16)) AS c) c,
           (SELECT unnest(range(0, 8)) AS e) e
    ), cent AS MATERIALIZED (
      SELECT label AS clabel, pos,
             CAST(floor(avg(x) * 10000 + 0.5) AS BIGINT) AS cq
      FROM (SELECT label, i AS pos, embedding[i]::DOUBLE AS x
            FROM embeddings, range(1, 65) t(i))
      GROUP BY label, pos
    ), xq AS MATERIALIZED (
      SELECT vec_id, pos,
             CAST(floor(embedding[pos]::DOUBLE * 10000 + 0.5) AS BIGINT)
               AS xq
      FROM embeddings, range(1, 65) t(pos)
    ), assign AS MATERIALIZED (
      SELECT vec_id, clabel AS lb FROM (
        SELECT x.vec_id, c.clabel,
               row_number() OVER (
                 PARTITION BY x.vec_id
                 ORDER BY sum((x.xq - c.cq) * (x.xq - c.cq)), c.clabel
               ) AS rn
        FROM xq x JOIN cent c ON x.pos = c.pos
        GROUP BY x.vec_id, c.clabel
      ) WHERE rn = 1
    ), qv AS MATERIALIZED (
      SELECT p.p, ((p.p * 37) % 4001) - 2000 AS qq
      FROM (SELECT unnest(range(0, 64)) AS p) p
    ), probed AS MATERIALIZED (
      SELECT c.clabel
      FROM qv q JOIN cent c ON q.p + 1 = c.pos
      GROUP BY c.clabel
      ORDER BY sum((q.qq - c.cq) * (q.qq - c.cq)), c.clabel
      LIMIT 2
    ), lut AS MATERIALIZED (
      SELECT c.clabel, b.s, b.c,
             CAST(sum(((q.qq - c.cq) - b.val) * ((q.qq - c.cq) - b.val))
                  AS BIGINT) AS pd2
      FROM probed p
      JOIN cent c ON c.clabel = p.clabel
      JOIN qv q ON q.p + 1 = c.pos
      JOIN cb b ON (c.pos - 1) // 8 = b.s AND (c.pos - 1) % 8 = b.e
      GROUP BY c.clabel, b.s, b.c
    ), rd AS MATERIALIZED (
      SELECT x.vec_id, a.lb, b.s, b.c,
             CAST(sum(((x.xq - c.cq) - b.val) * ((x.xq - c.cq) - b.val))
                  AS BIGINT) AS d2
      FROM xq x
      JOIN assign a USING (vec_id)
      JOIN probed pr ON a.lb = pr.clabel
      JOIN cent c ON c.clabel = a.lb AND c.pos = x.pos
      JOIN cb b ON (x.pos - 1) // 8 = b.s AND (x.pos - 1) % 8 = b.e
      GROUP BY x.vec_id, a.lb, b.s, b.c
    ), codes AS MATERIALIZED (
      SELECT vec_id, lb, s, c AS code,
             row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, c)
               AS rn
      FROM rd
    ), score AS (
      SELECT x.vec_id, CAST(min(x.lb) AS INTEGER) AS assigned,
             CAST(sum(l.pd2) AS BIGINT) AS adc_score
      FROM codes x
      JOIN lut l ON x.lb = l.clabel AND x.s = l.s AND x.code = l.c
      WHERE x.rn = 1 GROUP BY x.vec_id
    )
    SELECT vec_id, assigned, adc_score FROM score
    ORDER BY adc_score, vec_id LIMIT 25
    """,
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (similarity.ivf_pq_topk) — the
    FAISS-standard architecture for ANN beyond memory: the coarse
    quantizer (per-label integer-mean centroids, the proven
    sim_centroid_assign machinery) prunes the corpus to the nprobe=2
    nearest inverted lists; within them each vector's residual is
    PQ-coded against md5-derived codebooks (scaled to the residual
    range) and scored via per-list asymmetric-distance LUTs the
    driver precomputes. Every stage is integer-exact on the shared
    grid — coarse argmin, probe ranking, residuals, code argmins,
    ADC sums — so the oracle reproduces the ENTIRE index + serve
    path in SQL. Plan: centroids/books/LUTs fold in as literals (a
    literal map routes rows to their list's centroid and LUT), the
    probe filter is the partition-pruning dimension at scale, and
    the only movement is TakeOrderedAndProject's heaps."""
    import math

    emb = Catalog(spark, sf_dir).embeddings
    cent_rows = SIM.group_centroids(emb, "label", "embedding", dim=64).collect()
    coarse = [
        (int(r["label"]), [int(math.floor(m * 10000 + 0.5)) for m in r["centroid"]])
        for r in cent_rows
    ]
    cb = SIM.derived_pq_codebooks(8, 16, 8, scale=1250)
    qq = [((p * 37) % 4001) - 2000 for p in range(64)]
    return SIM.ivf_pq_topk(emb, qq, coarse, cb, nprobe=2, topk=25)


@query(
    "sim_topk_batch",
    """
    WITH q AS MATERIALIZED (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id IN (0, 1, 2)
    ), s AS (
      SELECT q.query_id, e.vec_id,
             floor((list_dot_product(e.embedding::DOUBLE[], q.qv)
                    / (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                             e.embedding::DOUBLE[]))
                       * sqrt(list_dot_product(q.qv, q.qv)))) * 10000 + 0.5)
               / 10000 + 0.0 AS cos_sim
      FROM embeddings e, q
    ), ranked AS (
      SELECT query_id, vec_id, cos_sim,
             CAST(row_number() OVER (
               PARTITION BY query_id ORDER BY cos_sim DESC, vec_id
             ) AS BIGINT) AS rn
      FROM s
    )
    SELECT query_id, vec_id, cos_sim, rn FROM ranked WHERE rn <= 10
    """,
)
def sim_topk_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCHED cosine top-k (similarity.cosine_topk_batch): three
    query vectors answered by ONE corpus scan — the serving/eval
    shape. Queries ride as a plan-literal struct array (no
    BroadcastNestedLoopJoin for the cross product); the per-query
    top-10 rank window trims map-side (WindowGroupLimit) before the
    single query_id exchange, so shuffle is #queries·k per task."""
    e = Catalog(spark, sf_dir).embeddings
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id").isin([0, 1, 2]))
        .orderBy("vec_id")
        .collect()
    ]
    return SIM.cosine_topk_batch(e, qs, k=10)


@query(
    "sim_topk_bruteforce",
    """
    WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id,
           floor((list_dot_product(e.embedding::DOUBLE[], q.qv)
                  / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                     * sqrt(list_dot_product(q.qv, q.qv)))) * 10000 + 0.5)
             / 10000 + 0.0 AS cos_sim
    FROM embeddings e, q
    ORDER BY cos_sim DESC, e.vec_id LIMIT 10
    """,
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (baseline ANN): full scan, per-row
    zip_with/aggregate dot product, TakeOrdered top-k."""
    emb = Catalog(spark, sf_dir).embeddings
    return SIM.cosine_topk(emb, _query_vec(spark, sf_dir), k=10)


@query(
    "sim_topk_lsh",
    """
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), planes AS (
      SELECT vec_id, embedding::DOUBLE[] AS pv
      FROM embeddings WHERE vec_id IN (1, 2, 3, 4)
    ), buckets AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
             string_agg(
               CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.pv) >= 0
                    THEN '1' ELSE '0' END, '' ORDER BY p.vec_id) AS bucket
      FROM embeddings e CROSS JOIN planes p
      GROUP BY e.vec_id, e.embedding
    ), qb AS (
      SELECT string_agg(
               CASE WHEN list_dot_product(q.qv, p.pv) >= 0
                    THEN '1' ELSE '0' END, '' ORDER BY p.vec_id) AS bucket
      FROM q CROSS JOIN planes p
    )
    SELECT b.vec_id,
           floor((list_dot_product(b.v, q.qv)
                  / (sqrt(list_dot_product(b.v, b.v))
                     * sqrt(list_dot_product(q.qv, q.qv)))) * 10000 + 0.5)
             / 10000 + 0.0 AS cos_sim
    FROM buckets b, q, qb
    WHERE b.bucket = qb.bucket
    ORDER BY cos_sim DESC, b.vec_id LIMIT 10
    """,
)
def sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: probe only the query's hyperplane bucket —
    the IVF-style scale path (bucket column doubles as a physical
    partition key for file pruning). The oracle re-derives the planes
    (vec_ids 1-4, the same rows _planes collects), the query bucket,
    and the bucket-filtered cosine top-k entirely in SQL — the LSH
    probe is deterministic data→data, so it IS SQL-expressible even
    though the Spark side parameterizes the planes at runtime."""
    emb = Catalog(spark, sf_dir).embeddings
    return SIM.ann_topk_lsh(
        emb, _query_vec(spark, sf_dir), _planes(spark, sf_dir), k=10
    )


@query(
    "sim_topk_multiprobe",
    """
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), planes AS (
      SELECT vec_id, embedding::DOUBLE[] AS pv
      FROM embeddings WHERE vec_id IN (1, 2, 3, 4)
    ), buckets AS (
      SELECT e.vec_id, e.embedding::DOUBLE[] AS v,
             string_agg(
               CASE WHEN list_dot_product(e.embedding::DOUBLE[], p.pv) >= 0
                    THEN '1' ELSE '0' END, '' ORDER BY p.vec_id) AS bucket
      FROM embeddings e CROSS JOIN planes p
      GROUP BY e.vec_id, e.embedding
    ), qb AS (
      SELECT string_agg(
               CASE WHEN list_dot_product(q.qv, p.pv) >= 0
                    THEN '1' ELSE '0' END, '' ORDER BY p.vec_id) AS bucket
      FROM q CROSS JOIN planes p
    )
    SELECT b.vec_id,
           floor((list_dot_product(b.v, q.qv)
                  / (sqrt(list_dot_product(b.v, b.v))
                     * sqrt(list_dot_product(q.qv, q.qv)))) * 10000 + 0.5)
             / 10000 + 0.0 AS cos_sim
    FROM buckets b, q, qb
    WHERE (CASE WHEN substr(b.bucket,1,1) <> substr(qb.bucket,1,1) THEN 1 ELSE 0 END
         + CASE WHEN substr(b.bucket,2,1) <> substr(qb.bucket,2,1) THEN 1 ELSE 0 END
         + CASE WHEN substr(b.bucket,3,1) <> substr(qb.bucket,3,1) THEN 1 ELSE 0 END
         + CASE WHEN substr(b.bucket,4,1) <> substr(qb.bucket,4,1) THEN 1 ELSE 0 END)
        <= 1
    ORDER BY cos_sim DESC, b.vec_id LIMIT 10
    """,
)
def sim_topk_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (similarity.ann_topk_multiprobe): probe
    the query bucket plus every 1-bit-flip neighbor — the recall
    lever for boundary-straddling neighbors, at n_planes+1 of
    2^n_planes buckets scanned and no index rebuild. Oracle
    re-derives the probe set as a Hamming-distance-1 predicate over
    the SQL-computed buckets."""
    emb = Catalog(spark, sf_dir).embeddings
    return SIM.ann_topk_multiprobe(
        emb, _query_vec(spark, sf_dir), _planes(spark, sf_dir), k=10
    )


@query(
    "sim_topk_int8",
    """
    WITH q AS (
      SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0
    ), quant AS (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
               AS scale
      FROM embeddings
    ), deq AS (
      SELECT vec_id,
             list_transform(v, x ->
               (CASE WHEN scale = 0 THEN 0
                     ELSE CAST(floor(x / scale + 0.5) AS BIGINT) END) * scale)
               AS dv
      FROM quant
    )
    SELECT d.vec_id,
           floor((list_dot_product(d.dv, q.qv)
                  / (sqrt(list_dot_product(d.dv, d.dv))
                     * sqrt(list_dot_product(q.qv, q.qv)))) * 10000 + 0.5)
             / 10000 + 0.0 AS cos_sim
    FROM deq d, q
    ORDER BY cos_sim DESC, d.vec_id LIMIT 10
    """,
)
def sim_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k search over the INT8-QUANTIZED index — the memory-lever
    path actually answering queries (quantize → dequantize → cosine →
    TakeOrderedAndProject), closing the loop on int8_quantize: the 8×
    smaller index returns near-identical neighbors, and because every
    step is floor-based-deterministic the driver hash checks the
    quantized math EXACTLY, not approximately. Zero shuffle — scan +
    per-partition heap + driver merge."""
    emb = Catalog(spark, sf_dir).embeddings
    quant = SIM.int8_quantize(emb, "vec_id", "embedding")
    deq = quant.select(
        "vec_id",
        SIM.int8_dequantize(F.col("q"), F.col("scale")).alias("dv"),
    )
    return SIM.cosine_topk(
        deq, _query_vec(spark, sf_dir), id_col="vec_id", vec_col="dv", k=10
    )


@query(
    "sim_embedding_neardup",
    """
    WITH corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      -- planted near-dups: scaled copies (cosine exactly 1.0 with the
      -- original, and the same hyperplane signs => same LSH bucket)
      SELECT vec_id + 1000000, list_transform(embedding::DOUBLE[], x -> x * 1.01)
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    planes AS (
      SELECT vec_id AS plane_id, embedding::DOUBLE[] AS pv
      FROM embeddings WHERE vec_id IN (1,2,3,4)
    ),
    bucketed AS (
      SELECT e.vec_id, e.v,
             string_agg(CASE WHEN list_dot_product(e.v, p.pv) >= 0
                             THEN '1' ELSE '0' END, '' ORDER BY p.plane_id) AS bucket
      FROM corpus e CROSS JOIN planes p
      GROUP BY e.vec_id, e.v
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           floor((list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))))
                 * 10000 + 0.5) / 10000 + 0.0 AS cos_sim
    FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE floor((list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))))
                * 10000 + 0.5) / 10000 + 0.0 >= 0.95
    """,
)
def sim_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, hyperplane-LSH blocked. The
    corpus carries planted scaled copies (every 10th vector) so the
    detector provably recovers them: scaling preserves hyperplane
    signs (same bucket) and cosine (exactly 1.0)."""
    emb = Catalog(spark, sf_dir).embeddings
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double") * 1.01).alias(
            "embedding"
        ),
    )
    corpus = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    ).unionByName(planted)
    return SIM.embedding_neardup_pairs(
        corpus, _planes(spark, sf_dir), threshold=0.95
    )


@query(
    "sim_semdedup",
    """
    WITH corpus AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, list_transform(embedding::DOUBLE[], x -> x * 1.01)
      FROM embeddings WHERE vec_id % 10 = 0
    ),
    planes AS (
      SELECT vec_id AS plane_id, embedding::DOUBLE[] AS pv
      FROM embeddings WHERE vec_id IN (1,2,3,4)
    ),
    bucketed AS (
      SELECT e.vec_id, e.v,
             string_agg(CASE WHEN list_dot_product(e.v, p.pv) >= 0
                             THEN '1' ELSE '0' END, '' ORDER BY p.plane_id) AS bucket
      FROM corpus e CROSS JOIN planes p
      GROUP BY e.vec_id, e.v
    ),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM bucketed a JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE floor((list_dot_product(a.v, b.v)
                   / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))))
                  * 10000 + 0.5) / 10000 + 0.0 >= 0.999
    )
    SELECT k.vec_id, k.bucket
    FROM bucketed k LEFT JOIN dropped d ON k.vec_id = d.vec_id
    WHERE d.vec_id IS NULL
    """,
)
def sim_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (similarity.semantic_dedup_keep):
    keep one representative per cosine-0.999 neighborhood, blocked by
    the scale-invariant hyperplane-LSH bucket so the planted rescaled
    copies (x1.01 of every 10th vector — cosine exactly 1.0 with the
    original) provably share their original's block and are pruned,
    while the random corpus (max pairwise cosine ~0.51) all survives.
    The dedup decision — not the pair report (that's
    sim_embedding_neardup) — is the output: (vec_id, bucket) of
    survivors."""
    emb = Catalog(spark, sf_dir).embeddings
    planted = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x.cast("double") * 1.01).alias(
            "embedding"
        ),
    )
    corpus = emb.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias(
            "embedding"
        ),
    ).unionByName(planted)
    return SIM.semantic_dedup_keep(
        corpus, _planes(spark, sf_dir), threshold=0.999
    )


# =====================================================================
# Training-data extensions: text analysis + multimodal
# =====================================================================

@query(
    "t_text_stats",
    """
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS approx_bpe_tokens,
           floor((CAST(len(list_filter(regexp_extract_all(lower(text), '[a-z0-9]+'),
                      t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
                  / len(regexp_extract_all(lower(text), '[a-z0-9]+'))) * 10000 + 0.5)
             / 10000 + 0.0 AS stop_ratio,
           floor((CAST(length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
                  / length(text)) * 10000 + 0.5) / 10000 + 0.0 AS alpha_ratio
    FROM documents WHERE length(text) > 0
    """,
)
def t_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + quality components (whitespace/regex tokenizer,
    BPE-ish estimate, stopword/alpha ratios)."""
    d = Catalog(spark, sf_dir).documents.filter(F.length("text") > 0)
    toked = d.select("doc_id", "text", T.tokens("text").alias("_toks"))
    tk = F.col("_toks")
    return toked.select(
        "doc_id",
        T.token_count("text", tk).cast("bigint").alias("n_tokens"),
        T.approx_bpe_token_count("text").alias("approx_bpe_tokens"),
        S.stable_round(T.stopword_ratio("text", tk), 4).alias("stop_ratio"),
        S.stable_round(T.alpha_ratio("text"), 4).alias("alpha_ratio"),
    )


_LANG_SNIPPETS: dict[str, str] = {
    # one multi-script snippet per language — appended doc_id digits
    # keep every row distinct without adding weighted grams (digits
    # carry no classifier weight)
    "en": "the cat and the dog of the house is running in the garden of things",
    "de": "der hund und die katze gehen durch einen garten und ich sage der regierung",
    "es": "el gobierno que tiene la información de los resultados el abogado",
    "fr": "le chien et les enfants du beau chateau aux oiseaux pour voir les eaux",
    "it": "il governo della citta che gli amici di casa la situazione degli studenti",
    "pt": "a informação do governo da cidade em um jardim para a população",
    "ru": "каждый человек имеет право на жизнь и образование этого мира",
    "el": "το σπιτι και ο ανθρωπος της πολης και τα παιδια του κοσμου",
}


def _lang_pred_sql(src_cte: str, text_expr: str = "t2") -> str:
    """Parameterized DuckDB fragment computing (doc_id, lang_pred,
    lang_score) from any CTE exposing (doc_id, <text_expr>) — the
    text.lang_id_ngram mirror (padding, codepoint gram extraction,
    LANG_NGRAM_WEIGHTS values, LEFT-JOIN sentinel twin, alphabetical
    argmax, 'und'). Returns CTE definitions ending in ``lang_pred_t``;
    callers append it to their WITH chain."""
    langs = sorted({l for d in T.LANG_NGRAM_WEIGHTS.values() for l in d})
    rows = ", ".join(
        "(" + ", ".join(
            [f"'{g}'"] + [str(d.get(l, 0)) for l in langs]
        ) + ")"
        for g, d in sorted(T.LANG_NGRAM_WEIGHTS.items())
    )
    cols = ", ".join(f"s_{l}" for l in langs)
    sums = ", ".join(
        f"coalesce(sum(lang_w.s_{l}), 0) AS s_{l}" for l in langs
    )
    greatest = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = " ".join(f"WHEN s_{l} = best THEN '{l}'" for l in langs)
    return rf"""
    lang_n AS MATERIALIZED (
      SELECT doc_id,
             ' ' || trim(regexp_replace(lower({text_expr}), '\s+', ' ', 'g'))
               || ' ' AS s
      FROM {src_cte}
    ), lang_g AS MATERIALIZED (
      SELECT doc_id, unnest(list_concat(
        CASE WHEN length(s) >= 3
             THEN list_transform(range(1, length(s)-1),
                                 i -> substring(s, i, 3))
             ELSE CAST([] AS VARCHAR[]) END,
        list_transform(range(1, length(s)+1),
                       i -> substring(s, i, 1)))) AS gram
      FROM lang_n
    ), lang_w(gram, {cols}) AS (VALUES {rows}),
    lang_agg AS MATERIALIZED (
      SELECT doc_id, {sums}
      FROM lang_g LEFT JOIN lang_w USING (gram)
      GROUP BY doc_id
    ), lang_pred_t AS (
      SELECT doc_id,
             CASE WHEN best <= 0 THEN 'und' {case} END AS lang_pred,
             CAST(greatest(best, 0) AS BIGINT) AS lang_score
      FROM (SELECT doc_id, {greatest} AS best, * FROM lang_agg)
    )"""


def _lang_ngram_oracle() -> str:
    """DuckDB mirror of text.lang_id_ngram over the multi-script
    snippet fixture: identical padding/gram extraction (codepoint
    substring — both engines count characters), the same per-gram
    integer weight table generated from LANG_NGRAM_WEIGHTS, LEFT JOIN
    (the oracle's twin of Spark's zero-hit sentinel), per-language
    sums, alphabetical-tie argmax, 'und' when nothing scored."""
    langs = sorted({l for d in T.LANG_NGRAM_WEIGHTS.values() for l in d})
    rows = ", ".join(
        "(" + ", ".join(
            [f"'{g}'"] + [str(d.get(l, 0)) for l in langs]
        ) + ")"
        for g, d in sorted(T.LANG_NGRAM_WEIGHTS.items())
    )
    cols = ", ".join(f"s_{l}" for l in langs)
    sums = ", ".join(
        f"coalesce(sum(w.s_{l}), 0) AS s_{l}" for l in langs
    )
    greatest = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = " ".join(f"WHEN s_{l} = best THEN '{l}'" for l in langs)
    snip = " ".join(
        f"WHEN {i} THEN '{_LANG_SNIPPETS[l]}'"
        for i, l in enumerate(sorted(_LANG_SNIPPETS))
    )
    return rf"""
    WITH d AS (
      SELECT doc_id,
             (CASE doc_id % 8 {snip} END) || ' ' || CAST(doc_id AS VARCHAR)
               AS t2
      FROM documents
    ), n AS (
      SELECT doc_id,
             ' ' || trim(regexp_replace(lower(t2), '\s+', ' ', 'g')) || ' '
               AS s
      FROM d
    ), g AS (
      SELECT doc_id, unnest(list_concat(
        CASE WHEN length(s) >= 3
             THEN list_transform(range(1, length(s)-1),
                                 i -> substring(s, i, 3))
             ELSE CAST([] AS VARCHAR[]) END,
        list_transform(range(1, length(s)+1),
                       i -> substring(s, i, 1)))) AS gram
      FROM n
    ), w(gram, {cols}) AS (VALUES {rows}),
    agg AS (
      SELECT doc_id, {sums}
      FROM g LEFT JOIN w USING (gram)
      GROUP BY doc_id
    ), scored AS (
      SELECT doc_id, {greatest} AS best, * FROM agg
    )
    SELECT doc_id,
           CASE WHEN best <= 0 THEN 'und' {case} END AS lang_pred,
           CAST(greatest(best, 0) AS BIGINT) AS lang_score
    FROM scored
    """


# One snippet per language for the 26-language hashed classifier —
# the same 8 as _LANG_SNIPPETS plus 18 more, each validated to win
# its own class under the exact AND the hash-bucketed scorer.
_LANG_SNIPPETS_EXT: dict[str, str] = {
    **_LANG_SNIPPETS,
    "nl": "van het jaar naar een mooie nacht waar wij een licht zien door de deur",
    "sv": "och det är en dag för alla som ska gå på torget för att tala om saker",
    "da": "og det er en af de bedste dage hvor børnene ikke talede om det der skete",
    "fi": "yksi suomalainen nainen istuu kokonaan hiljaa ja miettii elämää päässään",
    "pl": "to była wielka radość bo trzeba czytać książki ubiegłych lat i mistrzów",
    "cs": "vzdělání a umění je pro český národ důležité že přes všechna léta v knihách",
    "ro": "orașul este frumos și cultura crește în fiecare an și copiii învață carte",
    "hu": "a házban van egy ember aki szeret beszélni az egész országnak mindenről",
    "tr": "bu bir güzel gün ve insanlar şehirde yürüyor çocuklar okula gidiyor",
    "uk": "кожна людина має право на життя і освіту їхнє майбутнє є важливим",
    "bg": "пътят към града е дълъг и хората от съвета гледат децата в парка",
    "ar": "الكتاب على الطاولة في المدينة القديمة مع الناس",
    "he": "הספר על השולחן בעיר העתיקה עם האנשים והילדים",
    "hi": "किताब मेज पर है और शहर में बहुत सारे लोग रहते हैं",
    "ja": "この町の人はとても親切で毎日公園を歩いています",
    "ko": "이 도시는 아름답고 사람들이 공원에서 산책을 합니다",
    "zh": "这个城市的人们都很友好他们每天在公园里散步是很好的",
    "th": "เมืองนี้สวยงามมากและผู้คนเดินเล่นในสวนทุกวัน",
}

_LANG_HASH_BUCKETS = 8192


def _lang_fixture_cols(
    with_doc_suffix: bool = True,
) -> tuple[F.Column, F.Column]:
    """(text_col, label_col) over ``doc_id % 26`` — the shared
    26-language fixture builder (t_lang_id_hashed / t_token_budget /
    t_lang_id_train). ``with_doc_suffix`` appends the doc_id digits
    that keep rows distinct without adding weighted grams."""
    langs = sorted(_LANG_SNIPPETS_EXT)
    snip: F.Column | None = None
    lab: F.Column | None = None
    for i, lang in enumerate(langs):
        cond = F.col("doc_id") % len(langs) == i
        snip = (
            F.when(cond, F.lit(_LANG_SNIPPETS_EXT[lang]))
            if snip is None
            else snip.when(cond, F.lit(_LANG_SNIPPETS_EXT[lang]))
        )
        lab = (
            F.when(cond, F.lit(lang))
            if lab is None
            else lab.when(cond, F.lit(lang))
        )
    text = (
        F.concat(snip, F.lit(" "), F.col("doc_id").cast("string"))
        if with_doc_suffix
        else snip
    )
    return text, lab


def _lang_hashed_oracle() -> str:
    """DuckDB mirror of text.lang_id_hashed over the 26-language
    snippet fixture: identical padding/gram extraction, the identical
    md5-60-bit bucket expression, and the SAME bucketed weight
    relation (collisions pre-summed in Python by the same
    lang_gram_bucket_py both sides use). LEFT JOIN + coalesce is the
    oracle's twin of Spark's sentinel-bucket row."""
    B = _LANG_HASH_BUCKETS
    weights = T.LANG_NGRAM_WEIGHTS_EXT
    langs = sorted({l for d in weights.values() for l in d})
    bw: dict[int, dict[str, int]] = {}
    for g, d in weights.items():
        b = T.lang_gram_bucket_py(g, B)
        slot = bw.setdefault(b, {})
        for l, wv in d.items():
            slot[l] = slot.get(l, 0) + int(wv)
    rows = ", ".join(
        "(" + ", ".join(
            [str(b)] + [str(slot.get(l, 0)) for l in langs]
        ) + ")"
        for b, slot in sorted(bw.items())
    )
    cols = ", ".join(f"s_{l}" for l in langs)
    sums = ", ".join(f"coalesce(sum(w.s_{l}), 0) AS s_{l}" for l in langs)
    greatest = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    case = " ".join(f"WHEN s_{l} = best THEN '{l}'" for l in langs)
    arr = "[" + ", ".join(f"s_{l}" for l in langs) + "]"
    n = len(_LANG_SNIPPETS_EXT)
    snip = " ".join(
        f"WHEN {i} THEN '{_LANG_SNIPPETS_EXT[l]}'"
        for i, l in enumerate(sorted(_LANG_SNIPPETS_EXT))
    )
    return rf"""
    WITH d AS (
      SELECT doc_id,
             (CASE doc_id % {n} {snip} END) || ' ' || CAST(doc_id AS VARCHAR)
               AS t2
      FROM documents
    ), nrm AS (
      SELECT doc_id,
             ' ' || trim(regexp_replace(lower(t2), '\s+', ' ', 'g')) || ' '
               AS s
      FROM d
    ), g AS (
      SELECT doc_id, unnest(list_concat(
        CASE WHEN length(s) >= 3
             THEN list_transform(range(1, length(s)-1),
                                 i -> substring(s, i, 3))
             ELSE CAST([] AS VARCHAR[]) END,
        list_transform(range(1, length(s)+1),
                       i -> substring(s, i, 1)))) AS gram
      FROM nrm
    ), bk AS (
      SELECT doc_id,
             CAST(('0x' || substring(md5(gram), 1, 15)) AS BIGINT) % {B}
               AS bucket
      FROM g
    ), w(bucket, {cols}) AS (VALUES {rows}),
    agg AS (
      SELECT doc_id, {sums}
      FROM bk LEFT JOIN w USING (bucket)
      GROUP BY doc_id
    ), scored AS (
      SELECT doc_id, {greatest} AS best, * FROM agg
    )
    SELECT doc_id,
           CASE WHEN best <= 0 THEN 'und' {case} END AS lang_pred,
           CAST(greatest(best, 0) AS BIGINT) AS lang_score,
           CAST(CASE WHEN best <= 0 THEN 0
                ELSE best - greatest(
                  coalesce(list_reverse(list_sort({arr}))[2], 0), 0)
                END AS BIGINT) AS lang_margin
    FROM scored
    """


@query("t_lang_id_hashed", _lang_hashed_oracle())
def t_lang_id_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID with fastText's HASHING TRICK
    (text.lang_id_hashed): grams hash into a fixed 2^13-bucket
    feature space, so the broadcast weight relation is bounded by the
    bucket count no matter how large the vocabulary grows — the
    26-language table (Latin, Cyrillic incl. uk/bg vs ru, Greek,
    Arabic, Hebrew, Devanagari, CJK, Thai) broadcasts as ~130 bucket
    rows and a real ~1M-gram fastText lid model would broadcast as at
    most 8192. Same single-exchange plan as t_lang_id (narrow gram
    explode → bucket projection → one broadcast join → map-side
    combined sums); bucketing is the md5 60-bit hash both engines
    evaluate identically, so collisions (fastText's documented
    trade-off) are deterministic and the oracle reproduces them
    bit-for-bit."""
    d = Catalog(spark, sf_dir).documents
    text, _ = _lang_fixture_cols()
    fixture = d.select("doc_id", text.alias("t2"))
    return T.lang_id_hashed(
        fixture, "doc_id", "t2", buckets=_LANG_HASH_BUCKETS
    )


@query(
    "t_lang_id_train",
    rf"""
    WITH d AS (
      SELECT doc_id,
             (CASE doc_id % {len(_LANG_SNIPPETS_EXT)} {" ".join(
                f"WHEN {i} THEN '{_LANG_SNIPPETS_EXT[l]}'"
                for i, l in enumerate(sorted(_LANG_SNIPPETS_EXT)))} END)
               AS t2,
             (CASE doc_id % {len(_LANG_SNIPPETS_EXT)} {" ".join(
                f"WHEN {i} THEN '{l}'"
                for i, l in enumerate(sorted(_LANG_SNIPPETS_EXT)))} END)
               AS label
      FROM documents
    ), nrm AS (
      SELECT label,
             ' ' || trim(regexp_replace(lower(t2), '\s+', ' ', 'g')) || ' '
               AS s
      FROM d
    ), g AS (
      SELECT label, unnest(list_concat(
        CASE WHEN length(s) >= 3
             THEN list_transform(range(1, length(s)-1),
                                 i -> substring(s, i, 3))
             ELSE CAST([] AS VARCHAR[]) END,
        list_transform(range(1, length(s)+1),
                       i -> substring(s, i, 1)))) AS gram
      FROM nrm
    ), lg AS (
      SELECT gram, label, count(*) AS cnt_lg
      FROM g GROUP BY gram, label
    ), tot AS (
      SELECT gram, label, cnt_lg,
             sum(cnt_lg) OVER (PARTITION BY gram) AS cnt_g
      FROM lg
    ), cand AS (
      SELECT * FROM tot
      WHERE cnt_lg >= 2 AND cnt_lg * 100 >= cnt_g * 90
    ), ranked AS (
      SELECT *, row_number() OVER (PARTITION BY label
               ORDER BY cnt_lg DESC, gram ASC) AS rn
      FROM cand
    )
    SELECT label, gram,
           CAST(CASE WHEN cnt_lg = cnt_g THEN 3 ELSE 2 END AS INTEGER)
             AS weight,
           CAST(cnt_lg AS BIGINT) AS cnt_lg,
           CAST(cnt_g AS BIGINT) AS cnt_g
    FROM ranked WHERE rn <= 8
    """,
)
def t_lang_id_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lang-ID weight TRAINING (text.lang_id_train) — the in-engine
    closure of the classify loop: per label, the top-8 most frequent
    grams ≥90%-concentrated in that label (exact integer share test,
    no division), weight 3 when exclusive. Corpus touched once by the
    gram explode; the count/share/top-k stages all run on the
    vocabulary-sized relation (per-label top-k is WindowGroupLimit-
    trimmed). The fixture labels each doc with its snippet's
    language; shared digits and padding spaces filter out on the
    share bar. The oracle reproduces counts, shares, ordering, and
    weights exactly; the train → classify round-trip (learned
    relation fed back into lang_id_ngram) is unit-tested."""
    d = Catalog(spark, sf_dir).documents
    text, lab = _lang_fixture_cols(with_doc_suffix=False)
    fixture = d.select(text.alias("t2"), lab.alias("label"))
    return T.lang_id_train(fixture, "label", "t2", top_k=8)


@query(
    "t_token_budget",
    f"""
    WITH d AS (
      SELECT doc_id,
             (CASE doc_id % {{n}} {{snip}} END) || ' '
               || CAST(doc_id AS VARCHAR) AS t2,
             (CASE doc_id % {{n}} {{langcase}} END) AS lang
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(regexp_extract_all(t2, '\\S+'))) AS BIGINT)
             AS n_words,
           CAST(sum(length(t2)) AS BIGINT) AS n_chars,
           CAST(sum(strlen(t2)) AS BIGINT) AS n_bytes,
           CAST(sum(strlen(t2)) AS DOUBLE)
             / sum(len(regexp_extract_all(t2, '\\S+'))) AS bytes_per_word,
           CAST(sum(strlen(t2)) AS DOUBLE) / sum(length(t2))
             AS bytes_per_char
    FROM d GROUP BY lang
    """.format(
        n=len(_LANG_SNIPPETS_EXT),
        snip=" ".join(
            f"WHEN {i} THEN '{_LANG_SNIPPETS_EXT[lang]}'"
            for i, lang in enumerate(sorted(_LANG_SNIPPETS_EXT))
        ),
        langcase=" ".join(
            f"WHEN {i} THEN '{lang}'"
            for i, lang in enumerate(sorted(_LANG_SNIPPETS_EXT))
        ),
    ),
)
def t_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer-budget report over the 26-language
    fixture — the numbers a multilingual pipeline checks before
    committing a byte-level tokenizer: UTF-8 bytes and codepoints per
    whitespace word (byte-BPE cost tracks BYTES, so Cyrillic/Greek
    pay ~2x Latin per character and CJK/Thai pay ~3x — visible in
    bytes_per_char), plus the whitespace-word caveat made explicit:
    unsegmented scripts (zh/ja/th) collapse to one 'word' per
    snippet, which is exactly why real CJK budgeting divides by
    chars, not words. Pure one-exchange aggregate; both engines
    compute chars (length) and UTF-8 bytes (octet_length/strlen)
    identically."""
    d = Catalog(spark, sf_dir).documents
    text, lab = _lang_fixture_cols()
    fixture = d.select(text.alias("t2"), lab.alias("lang"))
    words = F.size(F.expr(r"regexp_extract_all(t2, '\\S+', 0)"))
    stats = fixture.select(
        "lang",
        words.alias("__w"),
        F.length("t2").alias("__c"),
        F.octet_length("t2").alias("__b"),
    )
    return stats.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("__w").cast("bigint").alias("n_words"),
        F.sum("__c").cast("bigint").alias("n_chars"),
        F.sum("__b").cast("bigint").alias("n_bytes"),
        (F.sum("__b").cast("double") / F.sum("__w")).alias(
            "bytes_per_word"
        ),
        (F.sum("__b").cast("double") / F.sum("__c")).alias(
            "bytes_per_char"
        ),
    )


def _quality_sql(toks: str = "toks", text: str = "text") -> str:
    """DuckDB expression mirroring operators.text.quality_score —
    same component formulas, same weights, same final round."""
    stop_list = ", ".join(repr(s) for s in T.STOPWORDS)
    n = f"len({toks})"
    sr = (
        f"CASE WHEN {n} > 0 THEN len(list_filter({toks}, t -> t IN ({stop_list})))"
        f" / CAST({n} AS DOUBLE) ELSE 0.0 END"
    )
    alpha = (
        f"CAST(length(regexp_replace(lower({text}), '[^a-z0-9 ]', '', 'g')) AS DOUBLE)"
        f" / length({text})"
    )
    mtl = (
        f"CASE WHEN {n} > 0 THEN CAST(list_sum(list_transform({toks},"
        f" t -> length(t))) AS DOUBLE) / {n} ELSE 0.0 END"
    )
    # floor-based stable rounding (scalars.stable_round twin): Spark's
    # repr-based double round() diverges from DuckDB's binary rounding
    # on values like 0.78575 (found at sf0.1).
    return (
        f"floor((0.3 * least({n} / 50.0, 1.0)"
        f" + 0.2 * least(({sr}) * 3.0, 1.0)"
        f" + 0.3 * ({alpha})"
        f" + 0.2 * (CASE WHEN ({mtl}) >= 3.0 AND ({mtl}) <= 10.0"
        f" THEN 1.0 ELSE 0.5 END)) * 10000 + 0.5) / 10000 + 0.0"
    )


def _curation_oracle() -> str:
    score = {
        lang: f"len(list_filter(toks, t -> t IN ({', '.join(repr(m) for m in markers)})))"
        for lang, markers in T.LANG_MARKERS.items()
    }
    langs = sorted(score)
    greatest = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    case = " ".join(
        f"WHEN s_{lang} = {greatest} THEN '{lang}'" for lang in langs[:-1]
    )
    scores_sel = ",\n             ".join(
        f"{expr} AS s_{lang}" for lang, expr in score.items()
    )
    return f"""
    WITH reps AS (
      SELECT min(doc_id) AS doc_id, min(text) AS text
      FROM ({_CORPUS_SQL})
      GROUP BY md5(text)
    ),
    toked AS (
      SELECT doc_id, text,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM reps
    ),
    scored AS (
      SELECT doc_id,
             {scores_sel},
             {_quality_sql()} AS quality
      FROM toked
    )
    SELECT doc_id, CASE {case} ELSE '{langs[-1]}' END AS lang_pred, quality
    FROM scored
    WHERE quality >= 0.5
      AND (CASE {case} ELSE '{langs[-1]}' END) = 'en'
    """


@query(
    "t_shard_pack",
    """
    WITH toked AS (
      SELECT doc_id, source,
             CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS BIGINT)
               AS n_tokens
      FROM documents
    )
    SELECT doc_id, source, n_tokens,
           CAST(COALESCE(sum(n_tokens) OVER (
                  PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // 100 AS BIGINT) AS shard
    FROM toked
    """,
)
def t_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget shard packing (text.pack_shards): docs stream into
    100-token shards per source in doc_id order — the sequence-packing
    step before pre-training tokenization. Prefix-sum window
    PARTITIONED by source: cumulative sums run parallel across groups,
    no global sort anywhere."""
    d = Catalog(spark, sf_dir).documents
    return T.pack_shards(d, "doc_id", "source", "text", budget_tokens=100)


def _quality_cutoff_oracle() -> str:
    return f"""
    WITH toked AS (
      SELECT doc_id, text,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents
    ), scored AS (
      SELECT doc_id, {_quality_sql()} AS quality FROM toked
    ), thr AS (
      SELECT quantile_cont(quality, 0.25) AS t FROM scored
    )
    SELECT s.doc_id, s.quality FROM scored s, thr WHERE s.quality >= thr.t
    """


@query("t_quality_cutoff", _quality_cutoff_oracle())
def t_quality_cutoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-based quality gate: keep documents at or above the
    corpus 25th-percentile quality score — curation thresholds are set
    relative to the corpus, not as magic constants. Two passes by
    design: the exact percentile collapses to ONE driver-side scalar
    (a tiny all-to-one agg — percentile() bit-matches DuckDB's
    quantile_cont, see a10), which then folds into the second pass as
    a literal filter. The lazy alternative (crossJoin with the 1-row
    agg) plans a BroadcastNestedLoopJoin — banned by the plan
    invariants. At 100 TB the first pass would swap in
    approx_percentile (same two-pass shape, bounded state)."""
    d = Catalog(spark, sf_dir).documents
    toked = d.select("doc_id", "text", T.tokens("text").alias("_toks"))
    scored = toked.select(
        "doc_id",
        T.quality_score("text", F.col("_toks")).alias("quality"),
    )
    thr = scored.select(F.expr("percentile(quality, 0.25)").alias("t")).head()[0]
    return scored.filter(F.col("quality") >= F.lit(float(thr)))


@query("t_curation_pipeline", _curation_oracle())
def t_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composite data-curation query a training pipeline runs:
    exact-dedup to representatives → quality gate → language filter.
    All narrow except the one dedup shuffle; the full chain stays
    JVM-side (no Python)."""
    corpus = _corpus(spark, sf_dir)
    # Scores are computed INSIDE the dedup aggregate: a Filter can
    # never be pushed below an Aggregate through non-grouping outputs,
    # so lang/quality evaluate exactly once per group and the filter
    # reads plain attributes. The projection-shaped variant
    # (agg → select scores → filter) lets predicate pushdown inline
    # the full scoring trees into the Filter node — measured 2-2.5×
    # slower at sf0.1. Scorers are lambda-free (operators/text.py), so
    # codegen subexpression elimination shares the tokenizer subtree.
    mt = F.min("text")
    tk = T.tokens(mt)
    scored = corpus.groupBy(F.md5("text").alias("h")).agg(
        F.min("doc_id").alias("doc_id"),
        T.lang_id(mt, tk).alias("lang_pred"),
        T.quality_score(mt, tk).alias("quality"),
    )
    return scored.filter(
        (F.col("quality") >= 0.5) & (F.col("lang_pred") == "en")
    ).select("doc_id", "lang_pred", "quality")


@query(
    "t_length_histogram",
    """
    SELECT CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+')) // 10 AS BIGINT)
             AS bucket,
           count(*) AS n_docs,
           CAST(min(n_chars) AS BIGINT) AS min_chars,
           CAST(max(n_chars) AS BIGINT) AS max_chars
    FROM documents
    GROUP BY 1
    """,
)
def t_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus length-distribution histogram (10-token buckets) — the
    first stat a curation run reports; one partial-agg shuffle."""
    d = Catalog(spark, sf_dir).documents
    toked = d.select("n_chars", T.tokens("text").alias("_toks"))
    return (
        toked.select(
            (F.size("_toks").cast("long") / 10).cast("bigint").alias("bucket"),
            "n_chars",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
    )


@query("t_lang_id", _lang_ngram_oracle())
def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-grade language ID (text.lang_id_ngram): a linear
    char-n-gram classifier — the CCNet language gate's model shape —
    over an 8-language multi-script fixture (Latin, Cyrillic, Greek).
    Grams explode narrowly and inner-join ONE broadcast weight
    relation with per-language weight columns; per-document sums are
    map-side combined, so the only exchange carries one row per
    document per map task; 'und' for unscored docs; deterministic
    alphabetical tie-break. The marker-word heuristic (text.lang_id)
    stays as the cheap zero-shuffle pre-gate (t_quality_gate)."""
    d = Catalog(spark, sf_dir).documents
    langs = sorted(_LANG_SNIPPETS)
    snip: F.Column | None = None
    for i, lang in enumerate(langs):
        w = (F.col("doc_id") % 8 == i, F.lit(_LANG_SNIPPETS[lang]))
        snip = F.when(*w) if snip is None else snip.when(*w)
    fixture = d.select(
        "doc_id",
        F.concat(snip, F.lit(" "), F.col("doc_id").cast("string")).alias(
            "t2"
        ),
    )
    return T.lang_id_ngram(fixture, "doc_id", "t2")


@query(
    "t_fingerprint",
    """
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(
             regexp_extract_all(lower(text), '[a-z0-9]+'))), ' ')) AS fingerprint
    FROM documents
    """,
)
def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical document fingerprint: md5 of the sorted distinct token
    set (word-order-robust)."""
    d = Catalog(spark, sf_dir).documents
    return d.select("doc_id", T.fingerprint("text").alias("fingerprint"))


@query(
    "m_multimodal_decode",
    """
    SELECT doc_id, 'image' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_size,
           CAST(octet_length(encode(text)) % 640 + 16 AS BIGINT) AS width,
           CAST(octet_length(encode(text)) % 480 + 16 AS BIGINT) AS height,
           CAST(octet_length(encode(text)) % 24 + 1 AS BIGINT) AS n_frames,
           md5(text) AS content_digest
    FROM documents
    """,
)
def m_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload + mapInPandas decode (the
    codec is a deterministic stub — container has no image libs; the
    Arrow-batched schema/partitioning path is real)."""
    d = Catalog(spark, sf_dir).documents
    mm = M.attach_binary_payload(d, "doc_id", "text")
    return M.decode_media(mm)


@query(
    "m_frame_sample",
    """
    WITH b AS (
      SELECT doc_id, text, octet_length(encode(text)) AS nb FROM documents
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS frame_idx,
           md5(substring(text, i * 64 + 1, 64)) AS frame_digest,
           CAST(NULL AS DOUBLE) AS frame_mean
    FROM b, unnest(range(0, greatest(nb // 64, 1), 2)) t(i)
    """,
)
def m_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling plumbing (multimodal.sample_frames): every
    2nd 64-byte payload chunk is a 'frame' (the decoder is a
    deterministic stub — no ffmpeg in the container; the 1→N
    mapInPandas fan-out, Arrow batching, and per-frame digest path are
    real and hash-verified). The oracle recomputes the chunk digests
    with substring+md5 — valid because the payload is utf8(text) and
    the corpus is pure ASCII, so byte and character offsets agree."""
    d = Catalog(spark, sf_dir).documents
    mm = M.attach_binary_payload(d, "doc_id", "text")
    return M.sample_frames(mm, every_n=2)


@query(
    "m_image_decode_real",
    """
    SELECT doc_id,
           CAST(doc_id % 24 + 8 AS BIGINT) AS width,
           CAST(doc_id % 16 + 4 AS BIGINT) AS height,
           CAST(doc_id % 24 + 7 AS DOUBLE) / 2 AS mean_r,
           CAST(doc_id % 16 + 3 AS DOUBLE) / 2 AS mean_g,
           7.0 AS mean_b
    FROM documents
    """,
)
def m_image_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-codec path, driver-verifiable: synthesize a gradient
    BMP per doc (width/height derived from doc_id, R=x, G=y, B=7),
    then decode it with the actual byte-level parser
    (multimodal.parse_bmp via decode_images). The oracle predicts the
    decoded dimensions and channel means analytically — mean(R) over
    an x-gradient is exactly (w-1)/2 — so a hash match proves real
    pixels were parsed, not stub arithmetic."""
    from mongodb_etl_migration_spark.operators.multimodal import encode_bmp

    return _gradient_image_decode(spark, sf_dir, encode_bmp, blue=7)



def _mm_payload_table(
    d: DataFrame, make_payload, fan_out: bool | None = False
) -> DataFrame:
    """ONE shared synth harness for the real-codec image queries:
    ``make_payload(doc_id) -> bytes`` per doc, emitted in the
    multimodal input contract (doc_id, payload, meta{media_type,
    byte_size}). Every decode query builds its input here, so a
    change to the contract decode_images consumes cannot silently
    fork between the BMP/PNG/QOI/JPEG fixtures.

    ``fan_out`` (default False) spreads the id spine across cores
    BEFORE the synth — pass ``None`` (the cpu_fan_out heuristic: fan
    out iff the source has fewer file splits than cores) ONLY for
    fixtures whose per-doc synth+decode CPU dwarfs the dispatch cost
    of a 32-partition Python fan-out. Measured at sf0.1, local[32]:
    the audio reel (1792 md5-mixes/doc) runs 7.0 s wall / 5.1 s cpu
    serial and ~4.7 s fanned, a win; the 9×8 image boards (72
    md5/doc) run 0.39 s serial and 0.83 s fanned — the 32-task
    mapInPandas dispatch EXCEEDS the synth, and the iterative CC loop
    above m_image_neardup amplified that to a 2.8 s → 32 s regression
    before this gate defaulted to False. A many-split real corpus
    keeps the heuristic false either way (guide §2.5)."""
    d = T.cpu_fan_out(d, fan_out)
    import pandas as pd

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    def synth(batches):
        for pdf in batches:
            payloads = [make_payload(int(i)) for i in pdf["doc_id"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "payload": payloads,
                    "meta": [
                        {"media_type": "image", "byte_size": len(p)}
                        for p in payloads
                    ],
                }
            )

    mm_schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
            StructField(
                "meta",
                StructType(
                    [
                        StructField("media_type", StringType()),
                        StructField("byte_size", LongType()),
                    ]
                ),
            ),
        ]
    )
    return d.mapInPandas(synth, mm_schema)


def _gradient_image_decode(
    spark: SparkSession, sf_dir: str, encode, blue: int = 9,
    doc_filter: str | None = None, id_aware: bool = False,
) -> DataFrame:
    """Shared harness for the real-codec image queries: synthesize the
    analytic gradient (R=x, G=y, B=``blue``; dims derived from doc_id)
    per doc, encode with the given codec, decode through
    decode_images. The BMP/PNG/QOI oracles all predict dims/means
    from this shape."""
    import numpy as np

    d = Catalog(spark, sf_dir).documents.select("doc_id")
    if doc_filter is not None:
        # deterministic slice: pure-Python codecs (QOI) pay per-pixel
        # loops per doc — a 1/7 sample keeps the verification real
        # without dominating catalog wall time
        d = d.filter(F.expr(doc_filter))

    def make_payload(did: int) -> bytes:
        w, h = did % 24 + 8, did % 16 + 4
        px = np.zeros((h, w, 3), dtype=np.uint8)
        px[:, :, 0] = np.arange(w, dtype=np.uint8)[None, :]
        px[:, :, 1] = np.arange(h, dtype=np.uint8)[:, None]
        px[:, :, 2] = blue
        return encode(px, did) if id_aware else encode(px)

    mm = _mm_payload_table(d, make_payload)
    return M.decode_images(mm).drop("content_digest")


@query(
    "m_image_decode_png",
    """
    SELECT doc_id,
           CAST(doc_id % 24 + 8 AS BIGINT) AS width,
           CAST(doc_id % 16 + 4 AS BIGINT) AS height,
           CAST(doc_id % 24 + 7 AS DOUBLE) / 2 AS mean_r,
           CAST(doc_id % 16 + 3 AS DOUBLE) / 2 AS mean_g,
           9.0 AS mean_b
    FROM documents
    """,
)
def m_image_decode_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG-codec path, driver-verifiable (the PNG twin of
    m_image_decode_real): synthesize a gradient PNG per doc (stdlib
    zlib IDAT, R=x, G=y, B=9), decode with the byte-level chunk-walk
    + unfilter parser (multimodal.parse_png via decode_images). The
    oracle predicts dimensions and channel means analytically, so a
    hash match proves real PNG bytes — inflate included — were
    parsed. Odd doc_ids encode ADAM7-INTERLACED (decoded pixels are
    identical, so one oracle covers both wire layouts): a green row
    proves the per-pass sub-image reconstruction too."""
    from mongodb_etl_migration_spark.operators.multimodal import encode_png

    return _gradient_image_decode(
        spark,
        sf_dir,
        lambda px, did: encode_png(px, interlace=bool(did % 2)),
        id_aware=True,
    )


@query(
    "m_image_decode_qoi",
    """
    SELECT doc_id,
           CAST(doc_id % 24 + 8 AS BIGINT) AS width,
           CAST(doc_id % 16 + 4 AS BIGINT) AS height,
           CAST(doc_id % 24 + 7 AS DOUBLE) / 2 AS mean_r,
           CAST(doc_id % 16 + 3 AS DOUBLE) / 2 AS mean_g,
           9.0 AS mean_b
    FROM documents WHERE doc_id % 7 = 0
    """,
)
def m_image_decode_qoi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL QOI-codec path (qoiformat.org spec 1.0 — the modern
    lossless format designed for dependency-free codecs): synthesize
    the same analytic gradient per doc as the PNG twin, encode with
    the greedy run/index/diff/luma encoder, decode with
    multimodal.parse_qoi via decode_images. The oracle predicts
    dimensions and channel means analytically, so a hash match proves
    the tagged-op byte stream was genuinely decoded."""
    from mongodb_etl_migration_spark.operators.multimodal import encode_qoi

    return _gradient_image_decode(
        spark, sf_dir, encode_qoi, doc_filter="doc_id % 7 = 0"
    )


@query(
    "m_gif_frames",
    """
    SELECT doc_id,
           CAST(f AS BIGINT) AS frame_idx,
           CAST(CASE f % 4 WHEN 0 THEN 10 WHEN 1 THEN 40
                WHEN 2 THEN 70 ELSE 100 END AS DOUBLE) AS mean_r,
           CAST(CASE f % 4 WHEN 0 THEN 20 WHEN 1 THEN 80
                WHEN 2 THEN 140 ELSE 200 END AS DOUBLE) AS mean_g,
           CAST(CASE f % 4 WHEN 0 THEN 30 WHEN 1 THEN 120
                WHEN 2 THEN 210 ELSE 240 END AS DOUBLE) AS mean_b
    FROM documents, unnest(range(0, doc_id % 5 + 1, 2)) AS t(f)
    """,
)
def m_gif_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF frame sampling, driver-verifiable: synthesize
    a (doc_id % 5 + 1)-frame GIF per doc (frame f = constant palette
    color f % 4), decode with the LZW + block-walk parser
    (multimodal.parse_gif), emit every 2nd frame's channel means. The
    oracle predicts them analytically from the palette, so a hash
    match proves real LZW streams were decoded and frames separated
    correctly — the 1→N video-sampling path with an actual codec."""
    import numpy as np
    import pandas as pd

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_gif,
        parse_gif,
    )

    _PAL = np.array(
        [[10, 20, 30], [40, 80, 120], [70, 140, 210], [100, 200, 240]],
        dtype=np.uint8,
    )
    d = Catalog(spark, sf_dir).documents.select("doc_id")

    def gen(batches):
        for pdf in batches:
            ids, idxs, mr, mg, mb = [], [], [], [], []
            for doc_id in pdf["doc_id"]:
                nf = int(doc_id) % 5 + 1
                frames = [
                    np.full((4, 8), f % 4, dtype=np.uint8) for f in range(nf)
                ]
                # odd docs encode INTERLACED (flag + 4-pass row order);
                # constant frames mean the same analytic oracle covers
                # both wire layouts while the flag/reorder path runs
                raw = encode_gif(
                    frames, _PAL, interlace=bool(doc_id % 2)
                )
                _, _, decoded = parse_gif(raw)
                for f in range(0, len(decoded), 2):
                    px = decoded[f].astype(np.float64)
                    ids.append(int(doc_id))
                    idxs.append(f)
                    mr.append(float(px[:, :, 0].mean()))
                    mg.append(float(px[:, :, 1].mean()))
                    mb.append(float(px[:, :, 2].mean()))
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "frame_idx": idxs,
                    "mean_r": mr,
                    "mean_g": mg,
                    "mean_b": mb,
                }
            )

    schema = (
        "doc_id long, frame_idx long, mean_r double, "
        "mean_g double, mean_b double"
    )
    return d.mapInPandas(gen, schema)


@query(
    "m_audio_decode_real",
    """
    SELECT doc_id,
           CAST(1 AS BIGINT) AS n_channels,
           CAST(8000 AS BIGINT) AS sample_rate,
           CAST(doc_id % 400 + 100 AS BIGINT) AS n_samples,
           CAST(doc_id % 400 + 100 AS DOUBLE) / 8000 AS duration_s,
           1000.0 AS rms
    FROM documents
    """,
)
def m_audio_decode_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-codec path, driver-verifiable: synthesize a PCM16
    WAV per doc (n samples of constant amplitude 1000 at 8 kHz), then
    decode with the stdlib wave parser (multimodal.decode_audio). The
    oracle predicts sample count, duration, and RMS (constant
    amplitude ⇒ RMS exactly 1000.0) analytically."""
    import io
    import struct as _struct
    import wave as _wave

    import pandas as pd

    d = Catalog(spark, sf_dir).documents.select("doc_id")

    def synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                n = int(doc_id) % 400 + 100
                buf = io.BytesIO()
                with _wave.open(buf, "wb") as wf:
                    wf.setnchannels(1)
                    wf.setsampwidth(2)
                    wf.setframerate(8000)
                    wf.writeframes(_struct.pack("<h", 1000) * n)
                payloads.append(buf.getvalue())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    mm = d.mapInPandas(
        synth,
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("payload", BinaryType()),
            ]
        ),
    )
    return M.decode_audio(mm)


# =====================================================================
# Events: windowed aggregation (streaming-shaped, batch-verified)
# =====================================================================

@query(
    "e_windowed_counts",
    """
    SELECT date_trunc('hour', ts) AS window_start, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM events GROUP BY date_trunc('hour', ts), event_type
    """,
)
def e_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window event aggregation — the same expression runs
    under Structured Streaming with a watermark
    (streaming/incremental.py)."""
    e = Catalog(spark, sf_dir).events
    return windowed_event_counts(e, "1 hour")


@query(
    "e_sessionization",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
      FROM marked
    )
    SELECT user_id, session_idx, min(ts) AS session_start,
           max(ts) AS session_end, count(*) AS n_events
    FROM sess GROUP BY user_id, session_idx
    """,
)
def e_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) with lag + running-sum
    windows (streaming/stateful.py); one shuffle on user_id for the
    windows."""
    from mongodb_etl_migration_spark.streaming.stateful import sessionize_batch

    e = Catalog(spark, sf_dir).events
    return sessionize_batch(e, gap_minutes=30)


@query(
    "j15_scd2_versions",
    """
    SELECT o_custkey, o_orderstatus, o_totalprice,
           o_orderdate AS valid_from,
           lead(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS valid_to,
           lead(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) IS NULL AS is_current
    FROM orders
    """,
)
def j15_scd2_versions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 dimension build (operators/asof.scd2_build): the
    order stream as a change log → versioned rows with half-open
    [valid_from, valid_to) intervals and an is_current flag — the
    point-in-time-join shape (pair with asof_join). One lead() window
    = one Exchange on the key."""
    from mongodb_etl_migration_spark.operators.asof import scd2_build

    o = Catalog(spark, sf_dir).orders
    return scd2_build(
        o,
        key="o_custkey",
        order_by=[F.col("o_orderdate"), F.col("o_orderkey")],
        valid_from_col="o_orderdate",
        attr_cols=["o_orderstatus", "o_totalprice"],
    )


@query(
    "e_session_window_builtin",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) >= 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM marked
    )
    SELECT user_id, min(ts) AS session_start, count(*) AS n_events
    FROM sess GROUP BY user_id, session_idx
    """,
)
def e_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (F.session_window) — Spark's built-in
    gap-merge sessionization, the one-liner twin of
    e_sessionization. NOTE the boundary semantics differ:
    session_window starts a NEW session when the gap is >= the window
    (windows [t, t+gap) merge only on overlap), while
    sessionize_batch uses strictly-greater — the oracle mirrors >=
    here."""
    e = Catalog(spark, sf_dir).events
    return (
        e.groupBy(
            F.session_window(F.col("ts"), "30 minutes").alias("w"),
            F.col("user_id"),
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "n_events",
        )
    )


@query(
    "e_attribution_join",
    """
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           c.event_id AS click_id, c.ts AS click_ts
    FROM events p JOIN events c
      ON c.user_id = p.user_id
     AND p.event_type = 'purchase' AND c.event_type = 'click'
     AND c.ts >= p.ts - INTERVAL 30 MINUTE AND c.ts < p.ts
    """,
)
def e_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join, batch twin (streaming/joins.py):
    purchase→click attribution within a 30-minute lookback per user.
    Under Structured Streaming the same expression runs with
    watermarks on both sides and watermark+lookback-bounded join
    state; batch-vs-stream equivalence is pinned in
    tests/test_streaming.py."""
    from mongodb_etl_migration_spark.streaming.joins import (
        interval_attribution_join,
    )

    e = Catalog(spark, sf_dir).events
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    return interval_attribution_join(
        purchases,
        clicks,
        key="user_id",
        left_ts="purchase_ts",
        right_ts="click_ts",
        lookback="30 minutes",
    )


# =====================================================================
# Crypto migration (ciphertext bytes aren't SQL-expressible, but the
# boolean invariants — roundtrip identity, re-encryption presence —
# are, so the oracle checks those over a deterministic doc_id slice)
# =====================================================================

@query(
    "x_crypto_migration",
    """
    SELECT doc_id,
           true AS roundtrip_ok,
           true AS reencrypted
    FROM documents WHERE doc_id < 200 AND text <> ''
    """,
)
def x_crypto_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F22–F26: Salsa20-decrypt → AES-256-CBC re-encrypt pipeline over
    a synthesized encrypted corpus (documents.text Salsa20-encrypted
    with the fixture keys). The output reduces to SQL-expressible
    invariant columns — decrypt(encrypt(x)) == x per row and
    ciphertext non-null — so the DuckDB twin is the constant-true
    frame over the same deterministic doc_id slice (a limit() would be
    order-unstable). Every row is encrypted here because the
    plaintext-passthrough branch is data-dependent (whether garbage
    base64 "decrypts" depends on the bytes) and so not SQL-checkable;
    that fallback branch is pinned by
    tests/test_functions_vectors.py (plaintext-passthrough test), and
    byte-level cipher vectors by the ECRYPT known-answer tests."""
    d = Catalog(spark, sf_dir).documents.filter(
        (F.col("doc_id") < 200) & (F.col("text") != "")
    )
    enc = X.make_salsa20_encrypt_udf("fixture-old-key", "fixt-iv")
    src = d.select("doc_id", "text", enc(F.col("text")).alias("content"))
    out = X.migrate_messages(
        src, "content", "fixture-old-key", "fixt-iv",
        master_key_hex="a" * 64, master_iv_hex="b" * 32,
    )
    return out.select(
        "doc_id",
        (F.col("content_decrypted") == F.col("text")).alias("roundtrip_ok"),
        F.col("content_encrypted").isNotNull().alias("reencrypted"),
    )


@query(
    "j9b_file_resolution",
    """
    WITH folders AS (
      SELECT DISTINCT '/' || source AS path, 1 AS depth FROM documents
      UNION
      SELECT DISTINCT '/' || source || '/' || lang AS path, 2 AS depth FROM documents
    ), ids AS (
      SELECT path, depth,
             CAST(row_number() OVER (ORDER BY depth, path) AS BIGINT) AS folder_id
      FROM folders
    ), files AS (
      SELECT doc_id,
             CASE WHEN doc_id % 13 = 0 THEN '/orphan/' || doc_id
                  WHEN doc_id % 2 = 0 THEN '/' || source
                  ELSE '/' || source || '/' || lang END AS on_folder
      FROM documents
    )
    SELECT f.doc_id, f.on_folder, coalesce(i.folder_id, 0) AS parent_id
    FROM files f LEFT JOIN ids i ON f.on_folder = i.path
    """,
)
def j9b_file_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 phase 2: attach files to folder ids by materialized path;
    unresolved paths default to root 0 — orchestrator.py:893-933
    (every 13th doc gets an orphan path to exercise the fallback)."""
    d = Catalog(spark, sf_dir).documents
    lvl1 = d.select(F.concat(F.lit("/"), F.col("source")).alias("path"))
    lvl2 = d.select(
        F.concat(F.lit("/"), F.col("source"), F.lit("/"), F.col("lang")).alias("path")
    )
    folder_ids = H.resolve_folder_tree(lvl1.unionByName(lvl2).distinct(), "path")
    files = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.lit("/orphan/"), F.col("doc_id").cast("string")),
        )
        .when(F.col("doc_id") % 2 == 0, F.concat(F.lit("/"), F.col("source")))
        .otherwise(
            F.concat(F.lit("/"), F.col("source"), F.lit("/"), F.col("lang"))
        )
        .alias("on_folder"),
    )
    return H.resolve_files_to_folders(files, folder_ids, "on_folder").select(
        "doc_id", "on_folder", "parent_id"
    )


# =====================================================================
# §2 completions: J8/J12 joins, P6/P9 predicates, O1/O3 sorts,
# A8 derived-key grouping, S5 nested serialization
# =====================================================================

@query(
    "j8_membership_merge",
    """
    WITH last_order AS (
      SELECT o_custkey, o_totalprice AS last_totalprice
      FROM orders
      QUALIFY row_number() OVER (
        PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey DESC) = 1
    )
    SELECT c.c_custkey, coalesce(lo.last_totalprice, c.c_acctbal) AS c_acctbal,
           c.c_mktsegment
    FROM customer c LEFT JOIN last_order lo ON lo.o_custkey = c.c_custkey
    """,
)
def j8_membership_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: membership-lookup UPDATE (orchestrator.py:1409-1471) as a
    join-based merge — matched rows take the update's value, unmatched
    keep their own (MERGE INTO on a Delta/Iceberg sink)."""
    cat = Catalog(spark, sf_dir)
    last = DN.top1_per_group(
        cat.orders, ["o_custkey"], [F.desc("o_orderdate"), F.desc("o_orderkey")]
    ).select(
        F.col("o_custkey").alias("c_custkey"),
        F.col("o_totalprice").alias("c_acctbal"),
    )
    return DN.merge_update(
        cat.customer.select("c_custkey", "c_acctbal", "c_mktsegment"),
        last,
        ["c_custkey"],
        ["c_acctbal"],
    )


@query(
    "j8b_upsert",
    """
    WITH target AS (
      SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer
    ), upd AS (
      SELECT CASE WHEN o_custkey % 3 = 1 THEN -o_custkey
                  ELSE o_custkey END AS c_custkey,
             'UPSERT#' || CAST(o_custkey AS VARCHAR) AS c_name,
             CASE WHEN o_custkey % 5 = 0 THEN NULL
                  ELSE CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE)
             END AS c_acctbal
      FROM orders
      GROUP BY 1, 2, o_custkey % 5
    )
    SELECT t.c_custkey,
           CASE WHEN u.c_custkey IS NOT NULL THEN u.c_name ELSE t.c_name END AS c_name,
           CASE WHEN u.c_custkey IS NOT NULL THEN u.c_acctbal ELSE t.c_acctbal END AS c_acctbal,
           t.c_mktsegment
    FROM target t LEFT JOIN upd u USING (c_custkey)
    UNION ALL
    SELECT u.c_custkey, u.c_name, u.c_acctbal, NULL AS c_mktsegment
    FROM upd u ANTI JOIN target t USING (c_custkey)
    """,
)
def j8b_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8 exact upsert semantics (postgres_loader.py:29-65, INSERT ..
    ON CONFLICT (id) DO UPDATE): matched customers take the update's
    name/acctbal UNCONDITIONALLY — including the every-5th NULL
    acctbal, which must overwrite (the coalesce-style merge would
    keep the old value) — unmatched update keys (every 3rd NEGATED,
    which stays outside the positive custkey domain at every scale
    factor; a fixed "+100000" shift would collide with real keys
    once custkey max passes 100k) are INSERTED with NULL for
    target-only columns, and untouched customers pass through."""
    cat = Catalog(spark, sf_dir)
    o = cat.orders
    upd = (
        o.groupBy(
            F.when(F.col("o_custkey") % 3 == 1, -F.col("o_custkey"))
            .otherwise(F.col("o_custkey"))
            .alias("c_custkey"),
            F.concat(F.lit("UPSERT#"), F.col("o_custkey").cast("string")).alias(
                "c_name"
            ),
            (F.col("o_custkey") % 5).alias("__null_gate"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
            .cast("double")
            .alias("__total")
        )
        .select(
            "c_custkey",
            "c_name",
            F.when(F.col("__null_gate") != 0, F.col("__total")).alias("c_acctbal"),
        )
    )
    return DN.upsert(
        cat.customer.select("c_custkey", "c_name", "c_acctbal", "c_mktsegment"),
        upd,
        ["c_custkey"],
        ["c_name", "c_acctbal"],
    )


@query(
    "j12_relation_build",
    """
    SELECT DISTINCT l.l_partkey, l.l_suppkey, p.p_brand, s.s_name
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    WHERE l.l_returnflag = 'A'
    """,
)
def j12_relation_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12: docs_roles-style relation build (orchestrator.py:961-987) —
    side-output key pairs resolved against two dimensions; inner joins
    drop unresolved refs. Dims broadcast; the fact side never
    shuffles before the distinct."""
    cat = Catalog(spark, sf_dir)
    pairs = cat.lineitem.filter(F.col("l_returnflag") == "A")
    return (
        pairs.join(
            F.broadcast(cat.part), F.col("p_partkey") == F.col("l_partkey")
        )
        .join(F.broadcast(cat.supplier), F.col("s_suppkey") == F.col("l_suppkey"))
        .select("l_partkey", "l_suppkey", "p_brand", "s_name")
        .distinct()
    )


@query(
    "p6_role_filter",
    """
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
    """,
)
def p6_role_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: role allow-list filter (orchestrator.py:547-566: only
    USER_ROLE/AGENTE_ROLE migrate) — an IN predicate pushed to the
    scan."""
    c = Catalog(spark, sf_dir).customer
    return c.filter(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
    ).select("c_custkey", "c_name", "c_mktsegment")


@query(
    "p9_empty_normalize",
    """
    SELECT event_id,
           CASE WHEN props IN ('{}', '[]') THEN NULL ELSE props END AS props_norm,
           NULLIF(event_type, '') AS event_type_norm
    FROM events
    """,
)
def p9_empty_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: empty-container normalization (data_transformer.py:855-895:
    {}/[] → NULL, '' → NULL) as when/nullif projections."""
    e = Catalog(spark, sf_dir).events
    return e.select(
        "event_id",
        F.when(F.col("props").isin("{}", "[]"), F.lit(None))
        .otherwise(F.col("props"))
        .alias("props_norm"),
        F.nullif(F.col("event_type"), F.lit("")).alias("event_type_norm"),
    )


_PATHS_SQL = """
      SELECT DISTINCT '/' || source AS path FROM documents
      UNION
      SELECT DISTINCT '/' || source || '/' || lang AS path FROM documents
"""


@query(
    "o1_sort_by_derived_key",
    f"""
    SELECT path,
           CASE WHEN path = '/' THEN 0
                ELSE len(string_split(path, '/')) - 1 END AS depth
    FROM ({_PATHS_SQL})
    ORDER BY depth, path
    """,
)
def o1_sort_by_derived_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1+F16: sort by derived path depth (orchestrator.py:778-785) —
    the depth expression is F16's '/'-count."""
    d = Catalog(spark, sf_dir).documents
    paths = (
        d.select(F.concat(F.lit("/"), F.col("source")).alias("path"))
        .unionByName(
            d.select(
                F.concat(
                    F.lit("/"), F.col("source"), F.lit("/"), F.col("lang")
                ).alias("path")
            )
        )
        .distinct()
    )
    depth = F.when(F.col("path") == "/", 0).otherwise(
        F.size(F.split(F.col("path"), "/")) - 1
    )
    return paths.select(
        "path", depth.cast("bigint").alias("depth")
    ).orderBy("depth", "path")


@query(
    "o3_limit_sample",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_orderkey LIMIT 50
    """,
)
def o3_limit_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: LIMIT spot-check (validate_migration.py:245 et al.) made
    deterministic with an explicit unique-key ORDER BY — Spark compiles
    to TakeOrderedAndProject (top-k per partition + driver merge, no
    global sort)."""
    o = Catalog(spark, sf_dir).orders
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy("o_orderkey")
        .limit(50)
    )


def _zorder_oracle() -> str:
    """DuckDB mirror of o6_zorder_layout: the identical Morton
    interleave (layout.zvalue_sql — same term order, same BIGINT
    shift/AND/OR), exact boundary percentiles via quantile_cont (the
    a10-proven bit-match for Spark's percentile), file assignment by
    the same literal-boundary comparisons, then per-file min/max
    bounds."""
    from mongodb_etl_migration_spark.operators.layout import zvalue_sql

    zv = zvalue_sql(["(o_custkey % 1024)", "(o_orderkey % 1024)"], 10)
    ps = ", ".join(str(i / 8) for i in range(1, 8))
    return f"""
    WITH z AS (
      SELECT CAST(o_custkey % 1024 AS BIGINT) AS d1,
             CAST(o_orderkey % 1024 AS BIGINT) AS d2,
             {zv} AS zval
      FROM orders
    ), q AS (
      SELECT quantile_cont(CAST(zval AS DOUBLE), [{ps}]) AS b FROM z
    ), f AS (
      SELECT d1, d2, zval,
             CAST(1 + len(list_filter(q.b,
               x -> CAST(zval AS DOUBLE) > x)) AS BIGINT) AS file_id
      FROM z, q
    )
    SELECT file_id,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(d1) AS BIGINT) AS min_d1,
           CAST(max(d1) AS BIGINT) AS max_d1,
           CAST(min(d2) AS BIGINT) AS min_d2,
           CAST(max(d2) AS BIGINT) AS max_d2,
           CAST(min(zval) AS BIGINT) AS min_zval,
           CAST(max(zval) AS BIGINT) AS max_zval
    FROM f GROUP BY file_id
    """


@query("o6_zorder_layout", _zorder_oracle())
def o6_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-ORDER (Morton) multi-dimensional clustering
    (layout.zvalue/zorder_layout/layout_pruning_stats) — the
    Delta/Iceberg OPTIMIZE ZORDER BY technique: interleaving the bits
    of (customer bucket, order bucket) into one BIGINT and laying
    files out as equal-depth Z-ranges bounds BOTH dimensions' min/max
    within every file, so parquet data skipping prunes on either
    predicate (a single-column sort prunes on one). The interleave is
    pure codegen bit arithmetic; file boundaries are exact
    percentiles collapsing to ONE bounded driver row (no global
    window — t_quality_cutoff's two-pass shape; approx_percentile is
    the 100 TB swap-in); the per-file min/max receipt is one
    partial-agg exchange. Oracle reproduces Z-values, boundaries, and
    bounds bit-for-bit."""
    from mongodb_etl_migration_spark.operators import layout as LO

    o = Catalog(spark, sf_dir).orders
    dims = o.select(
        (F.col("o_custkey") % 1024).cast("bigint").alias("d1"),
        (F.col("o_orderkey") % 1024).cast("bigint").alias("d2"),
    )
    laid = LO.zorder_layout(dims, ["d1", "d2"], bits=10, n_files=8)
    return LO.layout_pruning_stats(laid, ["d1", "d2", "zval"])


@query(
    "a8_depth_groups",
    f"""
    SELECT len(string_split(path, '/')) - 1 AS depth, count(*) AS cnt
    FROM ({_PATHS_SQL})
    GROUP BY 1
    """,
)
def a8_depth_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: folders bucketed by path depth (orchestrator.py:799-812) —
    the per-level partitioning of the hierarchy loop as a groupBy."""
    d = Catalog(spark, sf_dir).documents
    paths = (
        d.select(F.concat(F.lit("/"), F.col("source")).alias("path"))
        .unionByName(
            d.select(
                F.concat(
                    F.lit("/"), F.col("source"), F.lit("/"), F.col("lang")
                ).alias("path")
            )
        )
        .distinct()
    )
    return (
        paths.select(
            (F.size(F.split(F.col("path"), "/")) - 1).cast("bigint").alias("depth")
        )
        .groupBy("depth")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "s5_nested_serialization",
    """
    SELECT event_id,
           array_to_string(
             [CAST(user_id * 2 AS VARCHAR), CAST(user_id * 3 AS VARCHAR)], ','
           ) AS ref_ids,
           CAST(user_id AS VARCHAR) AS user_ref
    FROM events
    """,
)
def s5_nested_serialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: recursive ObjectId→string serialization
    (mongo_extractor.py:209-237) — schema-level casts with transform()
    over array columns instead of per-row recursion. The ref array is
    emitted comma-joined (array_join / array_to_string on both
    engines) so the result is scalar-hashable by the driver harness."""
    e = Catalog(spark, sf_dir).events
    refs = F.array(F.col("user_id") * 2, F.col("user_id") * 3)
    return e.select(
        "event_id",
        F.array_join(
            F.transform(refs, lambda x: x.cast("string")), ","
        ).alias("ref_ids"),
        F.col("user_id").cast("string").alias("user_ref"),
    )


def _jsonl_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic on-disk JSONL shards from the documents slice
    (doc_id % 3 == 0): 4 files keyed by doc_id % 4 — even shards
    plain .jsonl, odd shards whole-file gzip .jsonl.gz (the
    C4/FineWeb dump layout), so one read exercises both stream
    paths. Planted lines: shard 0 carries one NON-JSON line (the
    PERMISSIVE corrupt-capture case) and shard 1 one VALID line
    missing the text field (the schema-evolution NULL case).

    Same fixture discipline as _warc_fixture_dir: the collect is
    fixture CONSTRUCTION (O(slice) rows), files live under the
    gitignored .jsonl_fixtures/, bytes are a pure function of the
    slice (gzip mtime pinned to 0), and rewrites are
    skip-if-identical + atomic os.replace so concurrent builders
    converge."""
    import gzip
    import io
    import json
    import os

    d = Catalog(spark, sf_dir).documents
    rows = (
        d.filter(F.expr("doc_id % 3 = 0"))
        .select("doc_id", "source", "text")
        .orderBy("doc_id")
        .collect()
    )
    shards: dict[int, list[str]] = {0: [], 1: [], 2: [], 3: []}
    for row in rows:
        shards[int(row["doc_id"]) % 4].append(
            json.dumps(
                {
                    "doc_id": int(row["doc_id"]),
                    "source": row["source"],
                    "text": row["text"],
                },
                ensure_ascii=False,
                separators=(",", ":"),
            )
        )
    shards[0].append('{"doc_id": oops, not json}')
    shards[1].append('{"doc_id":-1,"source":"planted"}')
    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".jsonl_fixtures",
        os.path.basename(sf_dir.rstrip("/")),
    )
    os.makedirs(base, exist_ok=True)
    for sh, lines in shards.items():
        payload = ("\n".join(lines) + "\n").encode("utf-8")
        if sh % 2:
            buf = io.BytesIO()
            with gzip.GzipFile(fileobj=buf, mode="wb", mtime=0) as gz:
                gz.write(payload)
            name, data = f"docs-{sh}.jsonl.gz", buf.getvalue()
        else:
            name, data = f"docs-{sh}.jsonl", payload
        path = os.path.join(base, name)
        try:
            if os.path.getsize(path) == len(data):
                with open(path, "rb") as f:
                    if f.read() == data:
                        continue
        except OSError:
            pass
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
    return base


@query(
    "s7_jsonl_ingest",
    """
    SELECT doc_id, CAST(length(text) AS BIGINT) AS text_len,
           FALSE AS is_corrupt
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL SELECT -1, NULL, FALSE
    UNION ALL SELECT NULL, NULL, TRUE
    """,
)
def s7_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingest (sources/jsonl.read_jsonl) — the training-data
    interchange format: real .jsonl AND whole-file-gzip .jsonl.gz
    shards on disk (built deterministically from the documents
    slice), read back with an EXPLICIT schema (no inference pass)
    and PERMISSIVE corrupt capture. The fixture plants both failure
    modes a real dump has: one non-JSON line (must come back as the
    corrupt row — NULL columns, is_corrupt true) and one valid line
    missing the text field (schema-evolution NULL, NOT corrupt). The
    oracle predicts every row analytically from the same slice, so a
    hash match proves gzip decode, JSON parse, escape round-trip
    (json.dumps wrote the files, Spark's JVM parser read them), and
    the corrupt/missing-field distinction all ran."""
    from mongodb_etl_migration_spark.sources.jsonl import read_jsonl

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    path = _jsonl_fixture_dir(spark, sf_dir)
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("source", StringType()),
            StructField("text", StringType()),
        ]
    )
    df = read_jsonl(spark, path, schema)
    return df.select(
        "doc_id",
        F.length("text").cast("bigint").alias("text_len"),
        F.col("_corrupt_record").isNotNull().alias("is_corrupt"),
    )


@query(
    "s6_extended_json_ingest",
    """
    SELECT md5(CAST(event_id AS VARCHAR)) AS oid,
           date_trunc('milliseconds', ts) AS ts,
           value
    FROM events
    """,
)
def s6_extended_json_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5/S6 ingest shape: serialize events to Mongo extended-JSON
    strings (the mongoexport wire format), parse them back with
    from_json, and normalize the $oid/$date/$numberDouble wrappers via
    readers.normalize_extended_json — the oracle checks the roundtrip
    preserved every value. All JVM-side (to_json/from_json/casts)."""
    from mongodb_etl_migration_spark.sources.readers import (
        normalize_extended_json,
    )

    e = Catalog(spark, sf_dir).events
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    doc = F.to_json(
        F.struct(
            F.struct(
                F.md5(F.col("event_id").cast("string")).alias("$oid")
            ).alias("_id"),
            F.struct(
                F.struct(ms.cast("string").alias("$numberLong")).alias("$date")
            ).alias("ts"),
            F.struct(F.col("value").cast("string").alias("$numberDouble")).alias(
                "value"
            ),
        )
    )
    schema = (
        "_id STRUCT<`$oid`: STRING>, "
        "ts STRUCT<`$date`: STRUCT<`$numberLong`: STRING>>, "
        "value STRUCT<`$numberDouble`: STRING>"
    )
    parsed = e.select(F.from_json(doc, schema).alias("d")).select("d.*")
    return normalize_extended_json(parsed).select(
        F.col("_id").alias("oid"),
        F.col("ts").cast("timestamp_ntz").alias("ts"),
        "value",
    )


@query(
    "j13_asof_join",
    """
    WITH day_orders AS (
      SELECT o_custkey, o_orderdate,
             max(o_orderkey) AS last_orderkey,
             CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS day_total
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    SELECT e.event_id, e.user_id, e.ts, o.last_orderkey, o.day_total
    FROM events e
    ASOF LEFT JOIN day_orders o
      ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
    """,
)
def j13_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13 (beyond-parity temporal join): attach each event's most
    recent same-key order-day rollup (operators/asof.py — union +
    last_value window, one shuffle; DuckDB native ASOF JOIN is the
    oracle). Right side pre-aggregated to one row per (key, day) so
    the as-of winner is deterministic."""
    from mongodb_etl_migration_spark.operators.asof import asof_join

    cat = Catalog(spark, sf_dir)
    day_orders = cat.orders.groupBy("o_custkey", "o_orderdate").agg(
        F.max("o_orderkey").alias("last_orderkey"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("day_total"),
    )
    ev = cat.events.select("event_id", "user_id", "ts")
    return asof_join(
        ev,
        day_orders,
        left_on="user_id",
        right_on="o_custkey",
        left_ts="ts",
        right_ts="o_orderdate",
        payload_cols=["last_orderkey", "day_total"],
    )


@query(
    "j13b_asof_tolerance",
    """
    WITH purchases AS (
      SELECT user_id, ts, max(value) AS purchase_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    )
    SELECT c.event_id, c.user_id, c.ts,
           CASE WHEN c.ts <= p.ts + INTERVAL 1 DAY
                THEN p.purchase_value END AS purchase_value
    FROM events c
    ASOF LEFT JOIN purchases p
      ON c.user_id = p.user_id AND c.ts >= p.ts
    WHERE c.event_type = 'click'
    """,
)
def j13b_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a match tolerance (pandas merge_asof
    semantics): each click gets its user's most recent purchase
    value, but a purchase more than 1 day old is DISCARDED — payload
    NULL, not fall-through to an older purchase. Same single-exchange
    union+window plan as j13 (the validity mask rides the matched
    struct, no extra join); the oracle is DuckDB's native ASOF JOIN
    with the tolerance as a CASE over the matched row. With ~13
    purchases per user across 30 days, the 1-day window genuinely
    splits matched/discarded."""
    from mongodb_etl_migration_spark.operators.asof import asof_join

    e = Catalog(spark, sf_dir).events
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            "purchase_value",
        )
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    return asof_join(
        clicks,
        purchases,
        left_on="user_id",
        right_on="p_user",
        left_ts="ts",
        right_ts="p_ts",
        payload_cols=["purchase_value"],
        tolerance="1 day",
    )


@query(
    "j14_interval_join",
    """
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_idx
      FROM marked
    ), sessions AS (
      SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
             count(*) AS n_events
      FROM sess GROUP BY user_id, session_idx
    )
    SELECT e.event_id, e.user_id, s.session_start, s.n_events
    FROM events e
    JOIN sessions s
      ON e.user_id = s.user_id
     AND e.ts BETWEEN s.session_start AND s.session_end
    """,
)
def j14_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J14 (beyond-parity range join): assign each event to its
    session window via operators/ranges.interval_join — intervals
    explode to time buckets so the range join runs as an EQUI-join on
    (user_id, bucket), never a per-key nested loop. Oracle: plain
    BETWEEN join over the same session CTE."""
    from mongodb_etl_migration_spark.operators.ranges import interval_join
    from mongodb_etl_migration_spark.streaming.stateful import sessionize_batch

    e = Catalog(spark, sf_dir).events
    sessions = sessionize_batch(e, gap_minutes=30).drop("session_idx")
    return interval_join(
        e.select("event_id", "user_id", "ts"),
        sessions,
        on=["user_id"],
        ts_col="ts",
        start_col="session_start",
        end_col="session_end",
        bucket_seconds=3600,
    ).select("event_id", "user_id", "session_start", "n_events")


@query(
    "a9_rollup_totals",
    """
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_price
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def a9_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (beyond-parity): multi-granularity rollup — per
    (status, priority), per status, and grand total in ONE pass
    (Catalyst Expand + partial aggregation; the hypertable-rollup
    shape for dashboard cubes)."""
    o = Catalog(spark, sf_dir).orders
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("total_price"),
    )


@query(
    "a15_grouping_sets",
    """
    SELECT lang, source,
           CAST(grouping(lang) AS BIGINT) * 2
             + CAST(grouping(source) AS BIGINT) AS gid,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY GROUPING SETS ((lang, source), (lang), (source), ())
    """,
)
def a15_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS over the corpus-curation dimensions —
    per (lang, source) cell, per-lang and per-source marginals, and
    the grand total in ONE pass (Catalyst Expand + partial agg, same
    engine shape as A9's rollup but with a hand-picked lattice). The
    grouping_id disambiguates real NULL dimension values from
    subtotal rows — the standard cube-consumer contract."""
    d = Catalog(spark, sf_dir).documents
    return d.groupingSets(
        [["lang", "source"], ["lang"], ["source"], []], "lang", "source"
    ).agg(
        (
            F.grouping("lang").cast("bigint") * 2
            + F.grouping("source").cast("bigint")
        ).alias("gid"),
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


@query(
    "a16_heavy_hitters",
    """
    SELECT user_id, count(*) AS cnt
    FROM events
    GROUP BY user_id
    HAVING count(*) > 0.007 * (SELECT count(*) FROM events)
    """,
)
def a16_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters via sketch-candidates + exact confirm
    (profiling.heavy_hitters): Spark's one-pass frequent-items
    summary (bounded per-partition state, no row shuffle) nominates
    candidates with a one-sided guarantee, then an exact count over
    the candidate-filtered input confirms — deterministic output
    equal to plain GROUP BY ... HAVING, which is the oracle. The
    third classic sketch next to a12's HLL and a13's GK quantiles."""
    e = Catalog(spark, sf_dir).events
    return PR.heavy_hitters(e, "user_id", support=0.007)


@query(
    "v2_profile_report",
    """
    SELECT 'o_orderstatus' AS column, count(*) AS n_rows,
           CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nulls,
           count(DISTINCT o_orderstatus) AS n_distinct
    FROM orders
    UNION ALL
    SELECT 'o_custkey', count(*),
           CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_custkey)
    FROM orders
    UNION ALL
    SELECT 'o_orderpriority', count(*),
           CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           count(DISTINCT o_orderpriority)
    FROM orders
    """,
)
def v2_profile_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-scan column profiling (profiling.profile_report): null and
    distinct counts for every profiled column from a single pass over
    the table (multi-distinct compiles to one Expand + two-stage
    aggregate; the oracle reads the table once per column — the
    difference IS the operator). Output one row per column."""
    o = Catalog(spark, sf_dir).orders
    return PR.profile_report(
        o, ["o_orderstatus", "o_custkey", "o_orderpriority"]
    ).select(
        "column",
        "n_rows",
        F.col("n_nulls").cast("bigint").alias("n_nulls"),
        "n_distinct",
    )


@query(
    "sim_l2_normalize",
    """
    SELECT vec_id,
           array_to_string(
             list_transform(embedding::DOUBLE[],
               x -> CAST(floor(
                    CASE WHEN list_sum(list_transform(
                           embedding::DOUBLE[], y -> y * y)) = 0
                         THEN 0.0
                         ELSE x / sqrt(list_sum(list_transform(
                                embedding::DOUBLE[], y -> y * y)))
                    END * 100000 + 0.5) AS BIGINT)), ',')
             AS unit
    FROM embeddings
    """,
)
def sim_l2_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-norm embeddings via similarity.l2_normalize — the standard
    ANN preprocessing (cosine becomes dot product). The library
    function binds the norm once per row with a let-binding transform
    (lambda bodies get no codegen CSE, so an inline norm would be
    O(d²) per row). Each element is emitted as its 1e5-scaled integer
    (floor(x·1e5 + 0.5), engine-deterministic) comma-joined to one
    string — integer stringification is identical across engines,
    double→string formatting is not, and the driver harness can only
    hash scalar columns."""
    e = Catalog(spark, sf_dir).embeddings
    return e.select(
        "vec_id",
        F.array_join(
            F.transform(
                SIM.l2_normalize("embedding"),
                lambda x: F.floor(x * F.lit(100000) + F.lit(0.5))
                .cast("long")
                .cast("string"),
            ),
            ",",
        ).alias("unit"),
    )


@query(
    "sim_group_centroids",
    """
    WITH ex AS (
      SELECT label, i AS pos, embedding[i]::DOUBLE AS x
      FROM embeddings, range(1, 65) t(i)
    ), m AS (
      SELECT label, pos, avg(x) AS m FROM ex GROUP BY label, pos
    )
    SELECT label,
           array_to_string(
             list(CAST(floor(m * 10000 + 0.5) AS BIGINT) ORDER BY pos), ',')
             AS centroid
    FROM m GROUP BY label
    """,
)
def sim_group_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label class centroids (similarity.group_centroids) — the
    IVF build step / label prototypes. posexplode + two-level agg:
    partial aggregation collapses each map task to #labels×dim rows
    before the one shuffle. Elements are emitted as 1e4-scaled
    integers comma-joined to one scalar string (see sim_l2_normalize
    for why: driver-hashable, and integer strings are
    engine-identical)."""
    from mongodb_etl_migration_spark.operators.similarity import group_centroids

    e = Catalog(spark, sf_dir).embeddings
    cent = group_centroids(e, "label", "embedding", dim=64)
    return cent.select(
        "label",
        F.array_join(
            F.transform(
                F.col("centroid"),
                lambda x: F.floor(x * F.lit(10000) + F.lit(0.5))
                .cast("long")
                .cast("string"),
            ),
            ",",
        ).alias("centroid"),
    )


@query(
    "sim_centroid_assign",
    """
    WITH ex AS (
      SELECT label, i AS pos, embedding[i]::DOUBLE AS x
      FROM embeddings, range(1, 65) t(i)
    ), cent AS (
      SELECT label AS clabel, pos,
             CAST(floor(avg(x) * 10000 + 0.5) AS BIGINT) AS cq
      FROM ex GROUP BY label, pos
    ), xq AS (
      SELECT vec_id, pos,
             CAST(floor(embedding[pos]::DOUBLE * 10000 + 0.5) AS BIGINT) AS xq
      FROM embeddings, range(1, 65) t(pos)
    ), dists AS (
      SELECT x.vec_id, c.clabel,
             CAST(sum((x.xq - c.cq) * (x.xq - c.cq)) AS BIGINT) AS d2
      FROM xq x JOIN cent c ON x.pos = c.pos
      GROUP BY x.vec_id, c.clabel
    )
    SELECT vec_id, assigned, d2 FROM (
      SELECT vec_id, clabel AS assigned, d2,
             row_number() OVER (PARTITION BY vec_id ORDER BY d2, clabel) AS rn
      FROM dists
    ) WHERE rn = 1
    """,
)
def sim_centroid_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse-quantizer assignment: every vector → its nearest
    class centroid (similarity.nearest_centroid_assign). Centroids are
    the per-label means (group_centroids), quantized to 1e4-scaled
    integers so each distance is a sum of integer squares —
    bit-identical across engines, so the argmin (and its label
    tie-break) is exactly reproducible; float distances could flip at
    the boundary. The k·dim centroid table folds into the plan as
    literals: the assignment itself is one narrow projection, zero
    shuffle — the shape that scales to any corpus size. (The eager
    centroid collect at plan-build time mirrors _planes/_query_vec:
    k×dim values, dimension-sized.)"""
    import math

    emb = Catalog(spark, sf_dir).embeddings
    cent_rows = SIM.group_centroids(emb, "label", "embedding", dim=64).collect()
    centroids = [
        (int(r["label"]), [int(math.floor(m * 10000 + 0.5)) for m in r["centroid"]])
        for r in cent_rows
    ]
    return SIM.nearest_centroid_assign(emb, centroids, "vec_id", "embedding")


@query(
    "a14_salted_count",
    """
    SELECT user_id, count(*) AS cnt
    FROM events GROUP BY user_id
    """,
)
def a14_salted_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit two-stage (salted) aggregation (skew.salted_count):
    partial counts per (key, salt) then a final per-key sum — the
    template for custom aggs with no map-side combine, spreading a hot
    key over `salts` reducers. Oracle is the plain GROUP BY: salting
    must not change any count."""
    e = Catalog(spark, sf_dir).events
    return SK.salted_count(e, "user_id", salts=8)


@query(
    "j16_salted_join",
    """
    SELECT e.event_id, e.user_id, c.c_mktsegment
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    """,
)
def j16_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit salted join (operators/skew.salted_join) — the
    hot-key fallback when AQE's runtime skew split isn't enough (the
    reference's hot-room case, orchestrator.py:1235-1407). The small
    side replicates ×salts, the big side scatters over salt values;
    the ORACLE IS THE PLAIN JOIN — salting must be invisible in the
    result, which is exactly what the driver hash verifies."""
    cat = Catalog(spark, sf_dir)
    big = cat.events.select("event_id", "user_id")
    small = cat.customer.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return SK.salted_join(big, small, "user_id", salts=8)


@query(
    "j17_fuzzy_join",
    """
    WITH names AS (SELECT DISTINCT p_name FROM part)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           levenshtein(a.p_name, b.p_name) AS edit_distance
    FROM names a JOIN names b
      ON abs(length(a.p_name) - length(b.p_name)) <= 2
     AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def j17_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy join (text.fuzzy_join): distinct part names
    matched to within edit distance 2 — near-miss entity
    reconciliation as a join. Length-band blocking (a necessary
    condition for the edit bound) keeps it off the all-pairs path
    with zero false negatives; the a < b guard returns each unordered
    pair once."""
    names = Catalog(spark, sf_dir).part.select("p_name").distinct()
    a = names.select(F.col("p_name").alias("name_a"))
    b = names.select(F.col("p_name").alias("name_b"))
    out = T.fuzzy_join(a, b, "name_a", "name_b", max_dist=2)
    return out.filter(F.col("name_a") < F.col("name_b")).select(
        "name_a",
        "name_b",
        F.levenshtein("name_a", "name_b").alias("edit_distance"),
    )


@query(
    "j18_cdc_apply",
    """
    WITH latest AS (
      SELECT user_id, event_type, value FROM (
        SELECT user_id, event_type, value,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events WHERE event_type IN ('purchase', 'error', 'signup')
      ) WHERE rn = 1
    ),
    upserts AS (SELECT user_id, value FROM latest WHERE event_type <> 'error'),
    deletes AS (SELECT user_id FROM latest WHERE event_type = 'error'),
    updated AS (
      SELECT c.c_custkey, c.c_name,
             CASE WHEN u.user_id IS NOT NULL THEN u.value
                  ELSE c.c_acctbal END AS c_acctbal
      FROM customer c LEFT JOIN upserts u ON c.c_custkey = u.user_id
    ),
    inserts AS (
      SELECT u.user_id AS c_custkey, CAST(NULL AS VARCHAR) AS c_name,
             u.value AS c_acctbal
      FROM upserts u LEFT JOIN customer c ON u.user_id = c.c_custkey
      WHERE c.c_custkey IS NULL
    ),
    unioned AS (
      SELECT * FROM updated UNION ALL SELECT * FROM inserts
    )
    SELECT n.c_custkey, n.c_name, n.c_acctbal
    FROM unioned n LEFT JOIN deletes d ON n.c_custkey = d.user_id
    WHERE d.user_id IS NULL
    """,
)
def j18_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change-stream materialization (denorm.apply_cdc): events
    become a change log (purchase/signup → upsert of the account
    balance, error → delete), compacted last-writer-wins per user
    (map-side WindowGroupLimit — the log shuffles ~#keys rows), then
    applied via the broadcast-friendly upsert joins plus one
    left-anti for deletes — the target never shuffles. Ties are
    impossible by construction (event_id breaks equal timestamps)."""
    cat = Catalog(spark, sf_dir)
    target = cat.customer.select("c_custkey", "c_name", "c_acctbal")
    changes = (
        cat.events.filter(
            F.col("event_type").isin("purchase", "error", "signup")
        )
        .select(
            F.col("user_id").alias("c_custkey"),
            F.struct("ts", "event_id").alias("_seq"),
            F.when(F.col("event_type") == "error", "D")
            .otherwise("U")
            .alias("_op"),
            F.col("value").alias("c_acctbal"),
        )
    )
    return DN.apply_cdc(
        target, changes, ["c_custkey"], "_seq", "_op", ["c_acctbal"]
    )


@query(
    "sim_kmeans",
    """
    WITH xq AS (
      SELECT vec_id, pos,
             CAST(floor(embedding[pos]::DOUBLE * 10000 + 0.5) AS BIGINT) AS x
      FROM embeddings, range(1, 65) t(pos)
    ), c0 AS (
      SELECT vec_id AS c, pos, x AS cq FROM xq WHERE vec_id < 10
    ), a1 AS (
      SELECT vec_id, c FROM (
        SELECT x.vec_id, c.c,
               row_number() OVER (PARTITION BY x.vec_id
                 ORDER BY sum((x.x - c.cq) * (x.x - c.cq)), c.c) AS rn
        FROM xq x JOIN c0 c USING (pos)
        GROUP BY x.vec_id, c.c
      ) WHERE rn = 1
    ), c1 AS (
      SELECT a.c, x.pos,
             CAST(floor(CAST(sum(x.x) AS DOUBLE) / count(*)) AS BIGINT) AS cq
      FROM xq x JOIN a1 a USING (vec_id)
      GROUP BY a.c, x.pos
    )
    SELECT vec_id, cluster, d2 FROM (
      SELECT x.vec_id, CAST(c.c AS BIGINT) AS cluster,
             CAST(sum((x.x - c.cq) * (x.x - c.cq)) AS BIGINT) AS d2,
             row_number() OVER (PARTITION BY x.vec_id
               ORDER BY sum((x.x - c.cq) * (x.x - c.cq)), c.c) AS rn
      FROM xq x JOIN c1 c USING (pos)
      GROUP BY x.vec_id, c.c
    ) WHERE rn = 1
    """,
)
def sim_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means, 2 iterations (similarity.kmeans_assign) — the
    iterative-algorithm pattern: centroids on the driver, each
    iteration one zero-shuffle assignment (centroids fold in as plan
    literals) plus one k×dim partial-sum aggregate. All-integer
    arithmetic (quantized vectors, floor(sum/count) updates) makes
    every iteration bit-reproducible, so the oracle can unroll the
    loop in SQL CTEs and match exactly — k-means is usually the
    textbook 'non-SQL-expressible' op; determinism makes it
    checkable. Init = vectors 0..9; empty clusters drop."""
    emb = Catalog(spark, sf_dir).embeddings
    out = SIM.kmeans_assign(emb, k=10, iterations=2)
    return out.select(
        "vec_id", F.col("cluster").cast("bigint").alias("cluster"), "d2"
    )


@query(
    "t_chunk_documents",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ), starts AS (
      SELECT doc_id, t, unnest(range(1, len(t) + 1, 40)) AS s
      FROM toks WHERE len(t) > 0
    )
    SELECT doc_id,
           CAST((s - 1) / 40 AS BIGINT) AS chunk_idx,
           CAST(least(s + 49, len(t)) - s + 1 AS BIGINT) AS n_tokens,
           array_to_string(t[s:least(s + 49, len(t))], ' ') AS chunk_text
    FROM starts
    """,
)
def t_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking (text.chunk_documents): 50-token windows at
    stride 40 (10-token overlap) — the pre-training shard step. Narrow
    1→N explode, zero shuffle."""
    d = Catalog(spark, sf_dir).documents
    return T.chunk_documents(d, "doc_id", "text", chunk_size=50, stride=40)


@query(
    "t_pii_scrub",
    r"""
    WITH payload AS (
      SELECT doc_id,
             text || ' reach user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or call +1 (415) 555-01'
                  || CAST(doc_id % 100 AS VARCHAR)
                  || ' from 10.0.' || CAST(doc_id % 255 AS VARCHAR) || '.7'
               AS raw
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(raw,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g'),
             '\+?[0-9][0-9()\-. ]{7,}[0-9]', '<PHONE>', 'g') AS clean
    FROM payload
    """,
)
def t_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (text.scrub_pii): emails/IPs/phone-shaped digit
    runs → typed tags, pure regexp_replace chain (codegen'd, linear).
    The payload plants deterministic PII per doc so the scrub is
    actually exercised; replacement order (email → ip → phone) is part
    of the contract and mirrored in the oracle."""
    d = Catalog(spark, sf_dir).documents
    raw = F.concat(
        F.col("text"),
        F.lit(" reach user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call +1 (415) 555-01"),
        (F.col("doc_id") % 100).cast("string"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 255).cast("string"),
        F.lit(".7"),
    )
    return d.select("doc_id", T.scrub_pii(raw).alias("clean"))


@query(
    "t_repetition",
    """
    SELECT doc_id,
           CASE WHEN len(toks) > 0
                THEN 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
           END AS rep_ratio
    FROM (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
      FROM documents
    )
    """,
)
def t_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition ratio (text.repetition_ratio) — the
    Gopher-style boilerplate/keyword-stuffing gate. One narrow
    projection, no shuffle."""
    d = Catalog(spark, sf_dir).documents
    return d.select("doc_id", T.repetition_ratio("text").alias("rep_ratio"))


@query(
    "sim_quantize_int8",
    """
    SELECT vec_id, scale,
           array_to_string(
             list_transform(v, x -> CASE WHEN scale = 0 THEN 0
                                         ELSE CAST(floor(x / scale + 0.5) AS BIGINT)
                                    END), ',') AS q
    FROM (
      SELECT vec_id, embedding::DOUBLE[] AS v,
             list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
               AS scale
      FROM embeddings
    )
    """,
)
def sim_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization (similarity.int8_quantize) — the 8×
    memory lever that lets a 100 TB ANN index fit executor memory.
    floor(x+0.5) not round(): IEEE floor is engine-deterministic,
    round's half-tie mode is not. The int8 array is comma-joined to a
    scalar string for the driver hash (integer strings are
    engine-identical; the library operator keeps the real array)."""
    e = Catalog(spark, sf_dir).embeddings
    q = SIM.int8_quantize(e, "vec_id", "embedding")
    return q.select(
        "vec_id",
        "scale",
        F.array_join(
            F.transform(F.col("q"), lambda x: x.cast("string")), ","
        ).alias("q"),
    )


@query(
    "t_top_bigrams",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ), grams AS (
      SELECT unnest(list_transform(list_zip(t[:len(t)-1], t[2:]),
                                   p -> p[1] || ' ' || p[2])) AS bigram
      FROM toks
    )
    SELECT bigram, count(*) AS n
    FROM grams GROUP BY bigram
    ORDER BY n DESC, bigram ASC LIMIT 20
    """,
)
def t_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-k n-grams (the vocabulary/collocation report a
    curation run prints). Bigrams built by zipping the token array
    with its tail (narrow, no UDF); count is one partial-agg shuffle;
    the global top-20 is TakeOrderedAndProject (per-partition heaps +
    driver merge — no global sort at 100 TB). Deterministic tiebreak
    on the bigram itself."""
    d = Catalog(spark, sf_dir).documents
    grams = d.select(F.explode(T.bigrams_array("text")).alias("bigram"))
    return (
        grams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram").asc())
        .limit(20)
    )


@query(
    "t_tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tf GROUP BY term
    ), n AS (SELECT count(*) AS n FROM documents)
    SELECT doc_id, term, score FROM (
      SELECT t.doc_id, t.term,
             CAST(t.tf * n.n AS DOUBLE) / d.df AS score,
             row_number() OVER (
               PARTITION BY t.doc_id
               ORDER BY CAST(t.tf * n.n AS DOUBLE) / d.df DESC, t.term
             ) AS rn
      FROM tf t JOIN dfreq d USING (term) CROSS JOIN n
    ) WHERE rn <= 3
    """,
)
def t_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF keyword extraction: top-3 characteristic terms per doc
    (text.tfidf_top_terms). Rational idf (tf·N/df, no log — libm last
    -ulp drift would break exact verification; log is monotone so the
    ranking is identical); per-doc top-k compiles to WindowGroupLimit
    (map-side heads before the final shuffle)."""
    d = Catalog(spark, sf_dir).documents
    return T.tfidf_top_terms(d, "doc_id", "text", k=3)


@query(
    "t_decontaminate",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id, s.g
      FROM toks,
           unnest(list_transform(range(1, len(t) - 1),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
             AS s(g)
    ), eval_grams AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
    )
    SELECT d.doc_id, count(*) AS n_matched
    FROM grams d JOIN eval_grams e USING (g)
    WHERE d.doc_id % 97 <> 0
    GROUP BY d.doc_id
    """,
)
def t_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (text.decontaminate): flag training
    docs sharing any n-gram with a held-out eval set — the hygiene
    pass every pre-training corpus runs so eval answers don't leak
    into training. Eval set = doc_id % 97 == 0 (deterministic); n=3
    because the synthetic corpus draws from a ~30-word vocabulary
    (real runs use n of 8–13). The eval gram set broadcasts; the only
    shuffle carries matched (doc, gram) rows — proportional to the
    contamination found, not to the corpus."""
    d = Catalog(spark, sf_dir).documents
    eval_docs = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    return T.decontaminate(train, eval_docs, "doc_id", "text", n=3)


@query(
    "t_span_dedup",
    f"""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM ({_CORPUS_SQL})
    ),
    spans AS (
      SELECT doc_id,
             CAST((s - 1) / 10 AS BIGINT) AS span_idx,
             array_to_string(t[s:least(s + 9, len(t))], ' ') AS span_text
      FROM toks, unnest(range(1, len(t) + 1, 10)) AS u(s)
      WHERE len(t) > 0
    ),
    winners AS (
      SELECT doc_id, span_idx, span_text,
             row_number() OVER (PARTITION BY md5(span_text)
                                ORDER BY doc_id, span_idx) AS rn
      FROM spans
    ),
    totals AS (
      SELECT doc_id, count(*) AS n_spans_total FROM spans GROUP BY doc_id
    ),
    rebuilt AS (
      SELECT doc_id,
             string_agg(span_text, ' ' ORDER BY span_idx) AS clean_text,
             count(*) AS n_spans_kept
      FROM winners WHERE rn = 1
      GROUP BY doc_id
    )
    SELECT r.doc_id, r.clean_text, r.n_spans_kept, t.n_spans_total
    FROM rebuilt r JOIN totals t USING (doc_id)
    """,
)
def t_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document span dedup (text.dedup_spans), C4/CCNet style:
    fixed 10-token spans, each distinct span keeps only its globally
    first (min doc, position) occurrence, documents reassemble from
    survivors — planted exact-copy docs (+1M ids) lose every span and
    vanish; the near-dup copies (+2M, ' zq zq' suffix) survive only
    with their final changed span. The winner rule is a map-side
    combinable min-aggregate, not a corpus-wide window; both shuffles
    carry hashes/ids, not text."""
    return T.dedup_spans(_corpus(spark, sf_dir), "doc_id", "text", 10)


@query(
    "t_decontaminate_bloom",
    """
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id, s.g
      FROM toks,
           unnest(list_transform(range(1, len(t) - 2),
                  i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]))
             AS s(g)
    ), eval_grams AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 89 = 0
    )
    SELECT d.doc_id, count(*) AS n_matched
    FROM grams d JOIN eval_grams e USING (g)
    WHERE d.doc_id % 89 <> 0
    GROUP BY d.doc_id
    """,
)
def t_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pre-filtered decontamination (text.decontaminate_bloom):
    a distributed-built Bloom bitset over the eval set's 4-grams folds
    into the probe plan as literal column arithmetic, prunes the
    corpus's exploded grams to candidates inside the scan stage, and
    an exact broadcast join confirms — bitwise-identical output to the
    plain broadcast-join decontamination (the ORACLE IS THE EXACT SQL;
    Bloom false positives die in the confirm join, and a Bloom has no
    false negatives). The filter ships ~16 bits per eval gram vs ~40+
    bytes for the raw broadcast set — the shape for eval suites too
    big to broadcast raw."""
    d = Catalog(spark, sf_dir).documents
    eval_docs = d.filter(F.col("doc_id") % 89 == 0)
    train = d.filter(F.col("doc_id") % 89 != 0)
    return T.decontaminate_bloom(train, eval_docs, "doc_id", "text", n=4)


def _d6_oracle() -> str:
    return f"""
    WITH RECURSIVE {_SHINGLE_SQL},
    hashed AS (
      SELECT doc_id,
             ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {D.MINHASH_P} AS h
      FROM shingled
    ),
    sigs AS (
      SELECT doc_id, seed, min((a * h + b) % {D.MINHASH_P}) AS sig
      FROM hashed CROSS JOIN (VALUES {_MINHASH_FAMILY_SQL}) AS f(seed, a, b)
      GROUP BY doc_id, seed
    ),
    bands AS (
      SELECT doc_id, CAST(seed // 4 AS INT) AS band,
             md5(string_agg(seed || '=' || sig, '|' ORDER BY seed || '=' || sig)) AS band_key
      FROM sigs GROUP BY doc_id, CAST(seed // 4 AS INT)
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ),
    walk(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT w.u, e.v FROM walk w JOIN edges e ON w.v = e.u
    )
    SELECT u AS id, least(u, min(v)) AS component
    FROM walk GROUP BY u
    """


@query("d6_dedup_clusters", _d6_oracle())
def d6_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: near-dup CLUSTERS from the d2 candidate pairs — large-star/
    small-star (operators/dedup.connected_components) vs the
    oracle's recursive-CTE transitive closure. Every paired doc gets
    component = min reachable doc_id."""
    pairs = D.minhash_dedup_pairs(
        _corpus(spark, sf_dir), "doc_id", "text", k=3, num_hashes=16, bands=4
    )
    return D.connected_components(pairs)


def _comps_oracle() -> str:
    """Shared CTE prefix for d7/d9: _d6_oracle's transitive-closure
    pipeline spliced down to the `walk` CTE, plus the component-label
    aggregate. Centralizes the rindex-based slice so an edit to
    _d6_oracle's trailing SELECT breaks one helper, not two copies."""
    base = _d6_oracle()
    inner = base[base.index("WITH RECURSIVE") : base.rindex("SELECT u AS id")]
    return f"""
    {inner.rstrip()},
    comps AS (
      SELECT u AS id, least(u, min(v)) AS component
      FROM walk GROUP BY u
    )"""


def _d7_oracle() -> str:
    # keep every doc that is NOT a non-representative member
    return f"""
    {_comps_oracle()}
    SELECT doc_id, lang FROM documents
    WHERE doc_id NOT IN (SELECT id FROM comps WHERE id <> component)
    """


@query("d7_dedup_representatives", _d7_oracle())
def d7_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7: the curation OUTPUT of near-dup dedup — one surviving row
    per cluster (min doc_id) plus every unpaired doc, i.e. the kept
    set a training pipeline feeds downstream. Left-anti join against
    the non-representative member set: the corpus itself shuffles
    only through the anti join; cluster structure comes from the same
    label-propagation components the d6 oracle cross-checks with a
    recursive CTE."""
    corpus = _corpus(spark, sf_dir)
    pairs = D.minhash_dedup_pairs(
        corpus, "doc_id", "text", k=3, num_hashes=16, bands=4
    )
    return D.dedup_representatives(
        Catalog(spark, sf_dir).documents, pairs, "doc_id"
    ).select("doc_id", "lang")


def _d9_oracle() -> str:
    return f"""
    {_comps_oracle()},
    scored AS (
      SELECT doc_id, {_quality_sql()} AS quality
      FROM (
        SELECT doc_id, text,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
      )
    ),
    lab AS (
      SELECT s.doc_id, s.quality,
             COALESCE(c.component, s.doc_id) AS component
      FROM scored s LEFT JOIN comps c ON s.doc_id = c.id
    )
    SELECT doc_id, quality FROM (
      SELECT doc_id, quality,
             row_number() OVER (PARTITION BY component
                                ORDER BY quality DESC, doc_id) AS rn
      FROM lab
    ) WHERE rn = 1
    """


@query("d9_best_representatives", _d9_oracle())
def d9_best_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D9: quality-ranked dedup survivors — per near-dup cluster keep
    the HIGHEST-quality copy (ties: smaller doc_id), the rule real
    curation applies instead of first-seen (d7). Ranking runs only
    over component members (duplicate-sized, labels broadcast); the
    corpus moves through one anti join. Quality is the stable-rounded
    composite score, so the cross-engine argmax is exact."""
    corpus = _corpus(spark, sf_dir)
    pairs = D.minhash_dedup_pairs(
        corpus, "doc_id", "text", k=3, num_hashes=16, bands=4
    )
    d = Catalog(spark, sf_dir).documents
    toked = d.select("doc_id", "text", T.tokens("text").alias("_t"))
    scored = toked.select(
        "doc_id", T.quality_score("text", F.col("_t")).alias("quality")
    )
    return D.dedup_best_representatives(scored, pairs, "doc_id", "quality")


_HASH60 = (
    "CAST(('0x' || substring(md5(concat_ws('#', '{salt}', "
    "CAST({key} AS VARCHAR))), 1, 15)) AS BIGINT)"
)


def _sampling_queries() -> None:
    from mongodb_etl_migration_spark.operators import sampling as SM

    gate = _HASH60.format(salt="", key="doc_id")
    split_gate = _HASH60.format(salt="split", key="doc_id")

    @query(
        "t_deterministic_sample",
        f"""
        SELECT doc_id, lang
        FROM documents
        WHERE {gate} < {SM.cut(0.1)}
        """,
    )
    def t_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Reproducible 10% corpus sample by 60-bit md5 hash gate
        (operators/sampling.py) — filter-only, no shuffle, identical
        row set on every run and engine (df.sample would be neither)."""
        d = Catalog(spark, sf_dir).documents
        return SM.deterministic_sample(d, "doc_id", 0.1).select("doc_id", "lang")

    @query(
        "t_train_test_split",
        f"""
        SELECT doc_id,
               CASE WHEN {split_gate} < {SM.cut(0.2)}
                    THEN 'test' ELSE 'train' END AS split
        FROM documents
        """,
    )
    def t_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Stable 80/20 train/test split — disjoint + exhaustive by
        construction; rows never migrate between splits as the corpus
        grows (hash-gated, not positional)."""
        d = Catalog(spark, sf_dir).documents
        train, test = SM.train_test_split(d, "doc_id", 0.2)
        return train.select("doc_id", F.lit("train").alias("split")).unionByName(
            test.select("doc_id", F.lit("test").alias("split"))
        )

    @query(
        "t_stratified_sample",
        f"""
        WITH ranked AS (
          SELECT doc_id, lang,
                 row_number() OVER (
                   PARTITION BY lang ORDER BY {gate}, doc_id) AS rk
          FROM documents
        )
        SELECT doc_id, lang FROM ranked WHERE rk <= 50
        """,
    )
    def t_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Quota sampling: at most 50 docs per language, hash-ordered
        within each stratum (balanced training mixes). WindowGroupLimit
        keeps per-stratum top-50 map-side before the one shuffle."""
        d = Catalog(spark, sf_dir).documents
        return SM.stratified_take(d, ["lang"], 50, "doc_id").select(
            "doc_id", "lang"
        )

    mix_gate = _HASH60.format(salt="mix", key="doc_id")
    mix_rates = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.1}

    @query(
        "t_corpus_mix",
        f"""
        SELECT doc_id, source
        FROM documents
        WHERE {mix_gate} < CASE source
          WHEN 'src0' THEN {SM.cut(1.0)}
          WHEN 'src1' THEN {SM.cut(0.5)}
          WHEN 'src2' THEN {SM.cut(0.25)}
          WHEN 'src3' THEN {SM.cut(0.1)}
          ELSE 0 END
        """,
    )
    def t_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Data-mixture reweighting (sampling.weighted_mix): keep all
        of src0, 50 % of src1, 25 % of src2, 10 % of src3, drop the
        rest — the per-source rate table every pre-training run
        applies. One CASE-gated hash filter: narrow, zero shuffle,
        and the surviving row set is independent of partition layout
        and rerun (hash-gated, not RNG)."""
        d = Catalog(spark, sf_dir).documents
        return SM.weighted_mix(d, "doc_id", "source", mix_rates).select(
            "doc_id", "source"
        )

    temp_gate = _HASH60.format(salt="temp", key="doc_id")
    _GRP_SQL = (
        "CASE WHEN doc_id % 10 < 6 THEN 'web' "
        "WHEN doc_id % 10 < 9 THEN 'books' ELSE 'wiki' END"
    )

    @query(
        "t_temperature_mix",
        f"""
        WITH d AS (
          SELECT doc_id, {_GRP_SQL} AS grp FROM documents
        ), c AS (
          SELECT grp, CAST(count(*) AS HUGEINT) AS n FROM d GROUP BY grp
        ), s AS (
          SELECT grp, n,
                 CAST(floor(sqrt(CAST(n AS DOUBLE) * 10000)) AS HUGEINT)
                   AS sq
          FROM c
        ), t AS (SELECT sum(sq) AS tot FROM s),
        thr AS (
          SELECT grp, n,
                 least(CAST(1152921504606846976 AS HUGEINT),
                       (CAST(1152921504606846976 AS HUGEINT) * 120 * sq)
                         // (t.tot * n)) AS cut
          FROM s, t
        )
        SELECT d.doc_id, d.grp
        FROM d JOIN thr USING (grp)
        WHERE {temp_gate} < thr.cut
        """,
    )
    def t_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Temperature-scaled (α=0.5) domain rebalancing
        (sampling.temperature_mix): keep ≈ budget·√n_g/Σ√n per domain
        — XLM-R/mT5-style upsampling of small domains. The fixture
        derives a 60/30/10 skewed domain split from doc_id; budget =
        120 docs at sf0.01 (scales with the corpus). All arithmetic is
        integer-exact (isqrt scaling, integer-sum normalizer, one
        arbitrary-precision floor division), so the Spark driver's
        Python ints and the oracle's HUGEINTs produce the same 60-bit
        cut, row for row. Zero-shuffle CASE hash-gate after one
        O(#domains) count collect."""
        d = Catalog(spark, sf_dir).documents.select(
            "doc_id",
            F.when(F.col("doc_id") % 10 < 6, F.lit("web"))
            .when(F.col("doc_id") % 10 < 9, F.lit("books"))
            .otherwise(F.lit("wiki"))
            .alias("grp"),
        )
        return SM.temperature_mix(d, "doc_id", "grp", budget=120).select(
            "doc_id", "grp"
        )

    temptok_gate = _HASH60.format(salt="temptok", key="doc_id")

    @query(
        "t_temperature_mix_tokens",
        f"""
        WITH d AS (
          SELECT doc_id, {_GRP_SQL} AS grp,
                 CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+'))
                   AS HUGEINT) AS ntok
          FROM documents
        ), c AS (
          SELECT grp, sum(ntok) AS tk FROM d GROUP BY grp
        ), s AS (
          SELECT grp, tk,
                 CAST(floor(sqrt(CAST(tk AS DOUBLE) * 10000)) AS HUGEINT)
                   AS sq
          FROM c WHERE tk > 0
        ), t AS (SELECT sum(sq) AS tot FROM s),
        thr AS (
          SELECT grp, tk,
                 least(CAST(1152921504606846976 AS HUGEINT),
                       (CAST(1152921504606846976 AS HUGEINT) * 20000 * sq)
                         // (t.tot * tk)) AS cut
          FROM s, t
        )
        SELECT d.doc_id, d.grp, CAST(d.ntok AS BIGINT) AS n_tokens
        FROM d JOIN thr USING (grp)
        WHERE {temptok_gate} < thr.cut
        """,
    )
    def t_temperature_mix_tokens(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """TOKEN-weighted temperature mixing
        (sampling.temperature_mix_tokens): the α=0.5 rebalancing with
        every quantity in tokens — the unit training budgets are set
        in, so a domain of few long documents is not upsampled like a
        domain of many short ones. Same skewed 60/30/10 domain fixture
        as t_temperature_mix, budget 20 000 tokens at sf0.01; keep
        probability budget·√T_g/(Σ√T·T_g) per doc, hash-gated whole.
        Integer-exact end to end (isqrt scaling, integer-sum
        normalizer, arbitrary-precision floor division), so the
        driver's Python ints and the oracle's HUGEINTs agree on the
        60-bit cut row for row. One O(#domains) token-sum collect,
        then the zero-shuffle CASE hash-gate."""
        d = Catalog(spark, sf_dir).documents.select(
            "doc_id",
            F.when(F.col("doc_id") % 10 < 6, F.lit("web"))
            .when(F.col("doc_id") % 10 < 9, F.lit("books"))
            .otherwise(F.lit("wiki"))
            .alias("grp"),
            F.size(T.tokens("text")).cast("long").alias("n_tokens"),
        )
        return SM.temperature_mix_tokens(
            d, "doc_id", "grp", "n_tokens", budget_tokens=20_000
        ).select("doc_id", "grp", "n_tokens")


_sampling_queries()


# =====================================================================
# Web-corpus curation: Gopher rules, collision stats, inverted index,
# URL parsing/canonicalization (operators/text.py + operators/web.py)
# =====================================================================

_TOKS_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"


@query(
    "t_gopher_rules",
    f"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS_SQL} AS toks FROM documents
    ), s AS (
      SELECT doc_id, text, toks,
             len(toks) AS n,
             CASE WHEN len(toks) > 0
                  THEN len(array_to_string(toks, '')) / CAST(len(toks) AS DOUBLE)
                  ELSE 0.0 END AS mtl,
             length(text) - length(replace(text, '#', ''))
               + len(regexp_extract_all(text, '\\.\\.\\.')) AS symbols,
             string_split(text, chr(10)) AS lines,
             len(list_filter(list_distinct(toks),
                 t -> t IN ({", ".join(repr(s) for s in T.GOPHER_STOPWORDS)}))) AS stop_hits
      FROM t
    )
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_words,
           n >= 50 AND n <= 100000 AS words_ok,
           mtl >= 3.0 AND mtl <= 10.0 AS mean_len_ok,
           CASE WHEN n > 0 THEN symbols / CAST(n AS DOUBLE) <= 0.1
                ELSE FALSE END AS symbol_ok,
           len(list_filter(lines,
               ln -> starts_with(trim(ln), '-') OR starts_with(trim(ln), '*')))
             <= 0.9 * len(lines) AS bullet_ok,
           stop_hits >= 2 AS stop_ok,
           (n >= 50 AND n <= 100000) AND (mtl >= 3.0 AND mtl <= 10.0)
             AND (CASE WHEN n > 0 THEN symbols / CAST(n AS DOUBLE) <= 0.1 ELSE FALSE END)
             AND (len(list_filter(lines,
                  ln -> starts_with(trim(ln), '-') OR starts_with(trim(ln), '*')))
                  <= 0.9 * len(lines))
             AND stop_hits >= 2 AS gopher_pass
    FROM s
    """,
)
def t_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality-rule gate (text.gopher_quality_flags):
    word-count bounds, mean-word-length band, symbol-to-word ratio,
    bullet-line fraction, stopword presence — the standard
    pre-training document filter family, as pure boolean/integer
    Column predicates (hash-exact, zero shuffle)."""
    d = Catalog(spark, sf_dir).documents
    toked = d.select("doc_id", "text", T.tokens("text").alias("__toks"))
    flags = T.gopher_quality_flags("text", toks=F.col("__toks"))
    return toked.select(
        "doc_id", *[c.alias(name) for name, c in flags.items()]
    )


@query(
    "t_collision_score",
    f"""
    WITH t AS (
      SELECT doc_id, unnest({_TOKS_SQL}) AS word FROM documents
    ), c AS (
      SELECT doc_id, word, count(*) AS n FROM t GROUP BY doc_id, word
    ), a AS (
      SELECT doc_id, CAST(sum(n) AS BIGINT) AS total_tokens,
             CAST(sum(n * n) AS BIGINT) AS collisions
      FROM c GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(a.total_tokens, 0) AS total_tokens,
           COALESCE(a.collisions, 0) AS collisions,
           CASE WHEN COALESCE(a.total_tokens, 0) > 0
                THEN a.collisions
                     / CAST(a.total_tokens * a.total_tokens AS DOUBLE)
           END AS collision_prob
    FROM documents d LEFT JOIN a USING (doc_id)
    """,
)
def t_collision_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rényi-2 collision repetitiveness score (text.collision_stats):
    Σ count(w)² over per-doc token counts — the exactly-verifiable
    perplexity proxy (integer numerator/denominator, no log()). The
    Spark plan is three chained narrow projections with zero shuffle;
    the oracle re-derives it relationally (unnest + two GROUP BYs)."""
    d = Catalog(spark, sf_dir).documents
    return T.collision_stats(d, "doc_id", "text")


@query(
    "t_inverted_index",
    f"""
    WITH pairs AS (
      SELECT DISTINCT doc_id, term FROM (
        SELECT doc_id, unnest({_TOKS_SQL}) AS term FROM documents
      )
    ), agg AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df,
             list_sort(list(doc_id)) AS ids
      FROM pairs GROUP BY term
    )
    SELECT term, df, array_to_string(list_slice(ids, 1, 20), ',') AS postings
    FROM agg WHERE df >= 2
    """,
)
def t_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term → bounded posting-list index (text.inverted_index): one
    shuffle on term (window + groupBy share the exchange); posting
    arrays capped at the 20 smallest doc ids per term so stopword
    rows carry fixed-size state at any corpus size, while df counts
    the full set."""
    d = Catalog(spark, sf_dir).documents
    return T.inverted_index(d, "doc_id", "text", min_df=2, max_postings=20)


def _messy_url_col() -> F.Column:
    """Deterministic messy-URL construction from (doc_id, source) —
    mixed-case host, default port, trailing slash, tracking params,
    fragment — built IDENTICALLY in the SQL oracle so the operator
    under test is the parser/canonicalizer, not the test data.
    doc_id % 7 == 0 rows use the http scheme, so an http URL carrying
    :443 (a NON-default port for http — distinct origin) exercises the
    scheme-aware default-port rule in url_host."""
    d = F.col("doc_id")
    return F.concat(
        F.when(d % 7 == 0, F.lit("http")).otherwise(F.lit("https")),
        F.lit("://WWW."),
        F.upper("source"),
        F.lit(".Example.COM"),
        F.when(d % 2 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.when(d % 11 == 0, F.lit("")).otherwise(
            F.concat(F.lit("/Docs/"), (d % 50).cast("string"))
        ),
        F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.lit("?utm_campaign=Spring&page=2&gclid=abc"))
        .when(d % 4 == 1, F.lit("?page=2"))
        .when(d % 4 == 2, F.lit("?utm_source=feed"))
        .otherwise(F.lit("")),
        F.when(d % 5 == 0, F.lit("#Section-2")).otherwise(F.lit("")),
    )


_MESSY_URL_SQL = """
      CASE WHEN doc_id % 7 = 0 THEN 'http' ELSE 'https' END
      || '://WWW.' || upper(source) || '.Example.COM'
      || CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END
      || CASE WHEN doc_id % 11 = 0 THEN ''
              ELSE '/Docs/' || CAST(doc_id % 50 AS VARCHAR) END
      || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
      || CASE WHEN doc_id % 4 = 0 THEN '?utm_campaign=Spring&page=2&gclid=abc'
              WHEN doc_id % 4 = 1 THEN '?page=2'
              WHEN doc_id % 4 = 2 THEN '?utm_source=feed'
              ELSE '' END
      || CASE WHEN doc_id % 5 = 0 THEN '#Section-2' ELSE '' END
"""

_URL_PARTS_SQL = f"""
    WITH u AS (
      SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents
    ), p0 AS (
      SELECT doc_id, url,
        lower(nullif(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1), '')) AS scheme,
        lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS rawhost
      FROM u
    ), p AS (
      SELECT doc_id, scheme,
        nullif(CASE WHEN scheme = 'http' THEN regexp_replace(rawhost, ':80$', '')
                    WHEN scheme = 'https' THEN regexp_replace(rawhost, ':443$', '')
                    ELSE rawhost END, '') AS host,
        regexp_replace(
          regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1),
          '/+$', '') AS path0,
        nullif(regexp_extract(url, '\\?([^#]*)', 1), '') AS q
      FROM p0
    ), r AS (
      SELECT doc_id, scheme, host,
        CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
        nullif(regexp_extract(regexp_replace(host, ':[0-9]+$', ''),
                              '([^.]+\\.[^.]+)$', 1), '') AS domain,
        q,
        list_filter(string_split(q, '&'),
          kv -> NOT regexp_matches(kv, '^(utm_[a-zA-Z]+|fbclid|gclid)=')) AS kept
      FROM p
    )
    SELECT doc_id, scheme, host, domain, path,
      CAST(len(list_filter(string_split(path, '/'), s -> s <> '')) AS BIGINT) AS depth,
      CASE WHEN scheme IS NOT NULL AND host IS NOT NULL THEN
        scheme || '://' || host || path
        || CASE WHEN q IS NOT NULL AND len(kept) > 0
                THEN '?' || array_to_string(kept, '&') ELSE '' END
      END AS canon
    FROM r
"""


@query("w_url_parse", _URL_PARTS_SQL)
def w_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL component extraction + canonicalization (operators/web):
    scheme/host/registered-domain/path/depth plus the canonical dedup
    key (lowercase host, default port dropped, fragment + tracking
    params stripped, trailing slash removed). Pure regexp Columns —
    zero shuffle, mirrored expression-for-expression in the oracle.
    Two projections: parts first, then the derived columns, so each
    URL regex runs once per row (CSE can't deduplicate across
    when-branches)."""
    d = Catalog(spark, sf_dir).documents
    u = d.select("doc_id", _messy_url_col().alias("url"))
    p = WB.with_url_parts(u, "url")
    return p.select(
        "doc_id",
        F.col("__url_scheme").alias("scheme"),
        F.col("__url_host").alias("host"),
        WB.domain_of(F.col("__url_host")).alias("domain"),
        F.col("__url_path").alias("path"),
        WB.path_depth_of(F.col("__url_path")).cast("bigint").alias("depth"),
        WB.canonical_from_parts(
            F.col("__url_scheme"),
            F.col("__url_host"),
            F.col("__url_path"),
            F.col("__url_q"),
        ).alias("canon"),
    )


@query(
    "w_url_dedup",
    f"""
    WITH c AS ({_URL_PARTS_SQL}),
    ranked AS (
      SELECT doc_id, canon,
             row_number() OVER (PARTITION BY canon ORDER BY doc_id) AS rn
      FROM c
    )
    SELECT doc_id, canon FROM ranked WHERE rn = 1
    """,
)
def w_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL first-wins dedup (web.url_dedup_first_wins): the
    crawl-layer exact dedup. URLs that differ only by tracking params,
    fragment, port, case, or trailing slash collapse to one canonical
    key (path ids are taken mod 50, so each source contributes real
    duplicate groups); the earliest doc_id survives. One shuffle on
    the canonical key, row_number trim compiles to map-side
    WindowGroupLimit."""
    d = Catalog(spark, sf_dir).documents
    u = d.select("doc_id", _messy_url_col().alias("url"))
    return WB.url_dedup_first_wins(u, "url", "doc_id").select(
        "doc_id", F.col("__canon").alias("canon")
    )


@query(
    "t_rare_bigrams",
    f"""
    WITH toks AS (
      SELECT doc_id, {_TOKS_SQL} AS t FROM documents
    ), grams AS (
      SELECT doc_id,
             unnest(list_transform(list_zip(t[:len(t)-1], t[2:]),
                                   p -> p[1] || ' ' || p[2])) AS bigram
      FROM toks
    ), counted AS (
      SELECT doc_id, count(*) OVER (PARTITION BY bigram) AS cnt
      FROM grams
    ), per_doc AS (
      SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(CASE WHEN cnt < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
      FROM counted GROUP BY doc_id
    )
    SELECT d.doc_id,
           COALESCE(p.n_bigrams, 0) AS n_bigrams,
           COALESCE(p.n_rare, 0) AS n_rare,
           CASE WHEN COALESCE(p.n_bigrams, 0) > 0
                THEN p.n_rare / CAST(p.n_bigrams AS DOUBLE)
           END AS rare_ratio
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
    """,
)
def t_rare_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-LM surprisal proxy (text.rare_bigram_stats): per-doc
    fraction of bigrams with corpus frequency < 10 — the integer-exact
    core of KenLM-style perplexity filtering (the rare-fraction form
    verifies hash-exact; log-weighted perplexity would drift in libm).
    Corpus counts ride a window over the bigram exchange — one corpus
    scan, no self-join."""
    d = Catalog(spark, sf_dir).documents
    return T.rare_bigram_stats(d, "doc_id", "text", min_count=10)


@query(
    "e_funnel",
    """
    WITH ev AS (
      SELECT user_id, ts, event_type FROM events
      WHERE NOT ((user_id % 5 = 0 AND event_type = 'view')
              OR (user_id % 5 = 1 AND event_type = 'click')
              OR (user_id % 5 = 2 AND event_type = 'purchase'))
    ), q0s AS (
      SELECT user_id, ts, event_type,
             CASE WHEN event_type = 'view' THEN ts END AS q0
      FROM ev
    ), r0 AS (
      SELECT *, min(q0) OVER (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m0
      FROM q0s
    ), q1s AS (
      SELECT *, CASE WHEN event_type = 'click' AND m0 < ts THEN ts END AS q1
      FROM r0
    ), r1 AS (
      SELECT *, min(q1) OVER (PARTITION BY user_id ORDER BY ts
                 RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m1
      FROM q1s
    ), q2s AS (
      SELECT *, CASE WHEN event_type = 'purchase' AND m1 < ts THEN ts END AS q2
      FROM r1
    ), per_user AS (
      SELECT user_id, min(q0) AS t0, min(q1) AS t1, min(q2) AS t2
      FROM q2s GROUP BY user_id
    )
    SELECT CAST(CASE WHEN t2 IS NOT NULL THEN 3
                     WHEN t1 IS NOT NULL THEN 2
                     WHEN t0 IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS stage,
           CAST(count(*) AS BIGINT) AS users
    FROM per_user GROUP BY 1
    """,
)
def e_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel view → click → purchase (events.funnel_stages):
    per user, the furthest step reached with each step strictly after
    the previous step's first qualifying occurrence. Value-based
    RANGE-frame prefix minima make the result independent of sort-tie
    order (the property that lets two engines agree); one shuffle on
    user_id, no per-user event buffering.

    Fixture: events are pre-filtered by user-id modulus (user%5==0
    drops views, ==1 drops clicks, ==2 drops purchases) so every
    stage bucket 0-3 is populated — at the committed SFs the raw
    events table funnels every user to stage 3, which would leave the
    stage-0/1/2 arms and the strict-after edge untested at the
    catalog level."""
    e = Catalog(spark, sf_dir).events
    m = F.col("user_id") % 5
    e = e.filter(
        ~(
            ((m == 0) & (F.col("event_type") == "view"))
            | ((m == 1) & (F.col("event_type") == "click"))
            | ((m == 2) & (F.col("event_type") == "purchase"))
        )
    )
    return EV.funnel_stages(
        e, "user_id", "ts", "event_type", ("view", "click", "purchase")
    )


@query(
    "e_cohort_retention",
    """
    WITH f AS (
      SELECT user_id, ts,
             min(ts) OVER (PARTITION BY user_id) AS first_ts
      FROM events
    ), wk AS (
      SELECT DISTINCT user_id,
             date_trunc('week', ts) AS w,
             date_trunc('week', first_ts) AS cw
      FROM f
    )
    SELECT cw AS cohort_week,
           CAST(datediff('day', cw, w) // 7 AS BIGINT) AS week_offset,
           CAST(count(*) AS BIGINT) AS active_users
    FROM wk GROUP BY cohort_week, week_offset
    """,
)
def e_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (events.cohort_retention): users
    bucketed by first-event week; active-user counts per (cohort,
    week offset). First-event ts rides a window over the user
    exchange — single scan, no groupBy + self-join; ISO Monday weeks
    and integer day arithmetic keep it hash-exact."""
    e = Catalog(spark, sf_dir).events
    return EV.cohort_retention(e, "user_id", "ts")


def _pagerank_rounds_sql(
    raw_edges_sql: str,
    iters: int = 3,
    scale: int = 1_000_000_000,
    damp: int = 85,
    prelude: str = "",
    final: str | None = None,
    weighted: bool = False,
) -> str:
    """Unrolled fixed-point PageRank over a caller-supplied raw-edges
    SELECT (must yield DISTINCT BIGINT src/dst) — every update is
    integer multiply/floor-divide, so the SQL reproduces the Spark
    result bit-for-bit (the k-means discipline applied to a graph
    loop). DuckDB sums to HUGEINT; the per-round CAST keeps rank a
    BIGINT. ``prelude`` injects extra leading CTEs (trailing comma
    included); ``final`` overrides the closing SELECT (may append its
    own CTEs with a leading comma).

    Every CTE is AS MATERIALIZED: DuckDB inlines multiply-referenced
    CTEs by default, and the round nesting (r3 → c2 → r2 → …) expands
    the edge build combinatorially — at sf0.1 the inlined trade-graph
    form ran >10 min and spilled >40 GB; materialized it runs in
    ~0.1 s. The rule for any oracle with an iterative CTE chain."""
    parts = [
        f"""
    WITH {prelude}raw AS MATERIALIZED (
      {raw_edges_sql}
    ),
    nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM raw UNION ALL SELECT dst FROM raw
      )
    ),
    deg AS MATERIALIZED (SELECT src, CAST({
        "sum(w)" if weighted else "count(*)"
    } AS BIGINT) AS out_deg FROM raw GROUP BY src),
    nn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
    r0 AS MATERIALIZED (SELECT node, CAST({scale} // n AS BIGINT) AS pr FROM nodes, nn)"""
    ]
    contrib = "(r.pr * e.w) // d.out_deg" if weighted else "r.pr // d.out_deg"
    for i in range(iters):
        parts.append(f""",
    c{i} AS MATERIALIZED (
      SELECT e.dst AS node, SUM({contrib}) AS s
      FROM r{i} r JOIN raw e ON r.node = e.src JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r{i + 1} AS MATERIALIZED (
      SELECT no.node,
             CAST((((100 - {damp}) * CAST({scale} AS BIGINT) // 100) // nn.n)
                  + ({damp} * COALESCE(c.s, 0)) // 100 AS BIGINT) AS pr
      FROM nodes no CROSS JOIN nn LEFT JOIN c{i} c ON no.node = c.node
    )""")
    parts.append(
        final if final is not None else f"\n    SELECT node, pr FROM r{iters}"
    )
    return "".join(parts)


def _pagerank_oracle(iters: int = 3, scale: int = 1_000_000_000, damp: int = 85) -> str:
    """Trade-graph instantiation of _pagerank_rounds_sql."""
    return _pagerank_rounds_sql(
        """SELECT DISTINCT CAST(c.c_nationkey AS BIGINT) AS src,
                      CAST(s.s_nationkey AS BIGINT) AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey""",
        iters,
        scale,
        damp,
    )


@query("g_pagerank_trade", _pagerank_oracle())
def g_pagerank_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PageRank (graph.pagerank_integer) over the
    nation trade graph: a directed edge customer-nation → supplier-
    nation for every distinct cross-nation lineitem relationship. The
    iterative loop (3 rounds) runs in fixed-point long arithmetic so
    the unrolled SQL oracle matches bit-for-bit — float PageRank
    would drift through distributed-sum ordering. Per round: one src
    shuffle (rank→edge join) + one dst shuffle (contribution sum);
    ranks are node-sized and broadcast by AQE."""
    c = Catalog(spark, sf_dir)
    li = c.lineitem.select("l_orderkey", "l_suppkey")
    o = c.orders.select("o_orderkey", "o_custkey")
    cu = c.customer.select("c_custkey", "c_nationkey")
    su = c.supplier.select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cu, o["o_custkey"] == cu["c_custkey"])
        .join(su, li["l_suppkey"] == su["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select("c_nationkey", "s_nationkey")
    )
    return G.pagerank_integer(edges, "c_nationkey", "s_nationkey", iterations=3)


def _hits_rounds_sql(
    raw_edges_sql: str,
    iters: int = 3,
    scale: int = 1_000_000,
    prelude: str = "",
    final: str | None = None,
) -> str:
    """Unrolled fixed-point HITS over a caller-supplied DISTINCT
    BIGINT src/dst edge SELECT — max-renormalized integer mutual
    recursion, bit-for-bit the Spark loop (graph.hits_integer). All
    quantities non-negative, so // == div == Python floor division.
    AS MATERIALIZED everywhere (the _pagerank_rounds_sql lesson)."""
    parts = [
        f"""
    WITH {prelude}raw AS MATERIALIZED (
      {raw_edges_sql}
    ),
    nodes AS MATERIALIZED (
      SELECT DISTINCT node FROM (
        SELECT src AS node FROM raw UNION ALL SELECT dst FROM raw
      )
    ),
    h0 AS MATERIALIZED (
      SELECT node, CAST({scale} AS BIGINT) AS hub FROM nodes
    )"""
    ]
    for i in range(iters):
        parts.append(f""",
    ar{i} AS MATERIALIZED (
      SELECT e.dst AS node, CAST(sum(h.hub) AS BIGINT) AS s
      FROM h{i} h JOIN raw e ON h.node = e.src GROUP BY e.dst
    ),
    a{i + 1} AS MATERIALIZED (
      SELECT no.node,
             CAST((CAST(COALESCE(ar.s, 0) AS HUGEINT) * {scale}) // m.m
                  AS BIGINT) AS auth
      FROM nodes no
      CROSS JOIN (SELECT max(s) AS m FROM ar{i}) m
      LEFT JOIN ar{i} ar ON no.node = ar.node
    ),
    hr{i} AS MATERIALIZED (
      SELECT e.src AS node, CAST(sum(a.auth) AS BIGINT) AS s
      FROM a{i + 1} a JOIN raw e ON a.node = e.dst GROUP BY e.src
    ),
    h{i + 1} AS MATERIALIZED (
      SELECT no.node,
             CAST((CAST(COALESCE(hr.s, 0) AS HUGEINT) * {scale}) // m.m
                  AS BIGINT) AS hub
      FROM nodes no
      CROSS JOIN (SELECT max(s) AS m FROM hr{i}) m
      LEFT JOIN hr{i} hr ON no.node = hr.node
    )""")
    parts.append(
        final
        if final is not None
        else f"""
    SELECT a.node, a.auth, h.hub
    FROM a{iters} a JOIN h{iters} h ON a.node = h.node
    """
    )
    return "".join(parts)


@query(
    "g_hits_trade",
    _hits_rounds_sql(
        """SELECT DISTINCT CAST(c.c_nationkey AS BIGINT) AS src,
                      CAST(s.s_nationkey AS BIGINT) AS dst
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey"""
    ),
)
def g_hits_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact HITS (graph.hits_integer) over the same nation
    trade graph as g_pagerank_trade: authority = nations good buyers
    import FROM, hub = nations that import from good exporters — the
    second classic link-analysis ranking, in the same fixed-point
    bit-for-bit discipline (max renormalization instead of the float
    L2 norm). Per round one src + one dst shuffle; the renormalizer
    is a 1-row broadcast."""
    c = Catalog(spark, sf_dir)
    li = c.lineitem.select("l_orderkey", "l_suppkey")
    o = c.orders.select("o_orderkey", "o_custkey")
    cu = c.customer.select("c_custkey", "c_nationkey")
    su = c.supplier.select("s_suppkey", "s_nationkey")
    edges = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(cu, o["o_custkey"] == cu["c_custkey"])
        .join(su, li["l_suppkey"] == su["s_suppkey"])
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select("c_nationkey", "s_nationkey")
    )
    return G.hits_integer(edges, "c_nationkey", "s_nationkey", iterations=3)


_REVENUE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))"
)


@query(
    "a17_shipping_priority",
    f"""
    SELECT l.l_orderkey, o.o_orderdate,
           CAST(sum({_REVENUE_SQL}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
      AND l.l_shipdate > TIMESTAMP '1997-01-01'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l.l_orderkey ASC LIMIT 10
    """,
)
def a17_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 unshipped BUILDING-segment orders by
    revenue. Catalyst plan: both dimension filters push to the scans,
    customer broadcasts into orders, the orders⋈lineitem join keys the
    lineitem exchange, and the top-10 compiles to
    TakeOrderedAndProject (per-partition heaps, no global sort).
    Revenue follows the a1 decimal discipline (decimal-in,
    decimal-through, one final cast) with a deterministic l_orderkey
    tie-break so the LIMIT cutoff agrees across engines."""
    c = Catalog(spark, sf_dir)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    cut = "1997-01-01"
    return (
        c.customer.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .join(
            c.orders.filter(F.col("o_orderdate") < cut).select(
                "o_orderkey", "o_custkey", "o_orderdate"
            ),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            c.lineitem.filter(F.col("l_shipdate") > cut).select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


@query(
    "a18_regional_trade",
    f"""
    SELECT n.n_name,
           CAST(sum({_REVENUE_SQL}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    """,
)
def a18_regional_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: revenue kept within ASIA nations (customer and
    supplier share a nation) over one order year. Six-table join:
    region→nation prune broadcasts down the dimension chain, the
    c_nationkey = s_nationkey residual rides the lineitem⋈supplier
    join, and the final groupBy carries 5 nation groups out of the
    partial aggregation. The revenue arithmetic is the a1 decimal
    discipline."""
    c = Catalog(spark, sf_dir)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    nations_in_region = (
        c.nation.join(
            c.region.filter(F.col("r_name") == "ASIA").select("r_regionkey"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        ).select("n_nationkey", "n_name")
    )
    return (
        c.customer.select("c_custkey", "c_nationkey")
        .join(
            c.orders.filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1997-01-01")
            ).select("o_orderkey", "o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            c.lineitem.select(
                "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
            ),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .join(
            c.supplier.select("s_suppkey", "s_nationkey"),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(
            nations_in_region,
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"))
    )


# ONE SQL text, two engines: written in the dialect intersection
# (ANSI joins, date_trunc, window functions, DECIMAL casts — no
# engine-specific division or list functions), this string runs
# verbatim through spark.sql() AND as its own DuckDB oracle. It is
# the receipt that the engine's SQL entry point — not just the
# DataFrame API — carries the house parity rules.
_SHARED_SQL = """
    WITH rev AS (
      SELECT n.n_name AS nation,
             date_trunc('month', o.o_orderdate) AS month,
             CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
               AS revenue
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, date_trunc('month', o.o_orderdate)
    ), ranked AS (
      SELECT nation, month, revenue,
             row_number() OVER (PARTITION BY nation
                                ORDER BY revenue DESC, month ASC) AS rn
      FROM rev
    )
    SELECT nation, month, revenue FROM ranked WHERE rn = 1
"""


@query("s8_shared_sql", _SHARED_SQL)
def s8_shared_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL surface check: the exact oracle text executes through
    spark.sql() over registered temp views (Catalog.register_temp_
    views) — best revenue month per nation, with a four-table join,
    monthly rollup, and a tie-broken per-nation window. Catalyst
    still broadcasts the dimensions and compiles the rn=1 filter to
    map-side WindowGroupLimit; the DataFrame and SQL entry points
    share one optimizer."""
    Catalog(spark, sf_dir).register_temp_views()
    return spark.sql(_SHARED_SQL)


@query(
    "a19_copurchase_pairs",
    """
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), freq AS (
      SELECT l_partkey FROM pairs
      GROUP BY l_partkey HAVING count(*) >= 20
    ), fp AS MATERIALIZED (
      SELECT p.l_orderkey, p.l_partkey
      FROM pairs p JOIN freq f USING (l_partkey)
    )
    SELECT a.l_partkey AS p1, b.l_partkey AS p2,
           CAST(count(*) AS BIGINT) AS support
    FROM fp a JOIN fp b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY p1, p2 HAVING count(*) >= 2
    """,
)
def a19_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association pairs (events.copurchase_pairs):
    parts co-ordered in >= 2 orders, with the Apriori frequent-item
    prune running BEFORE the per-order self-join so basket width — the
    quadratic dimension — shrinks first. One orderkey exchange shared
    by both join sides, partial-agg pair counts."""
    li = Catalog(spark, sf_dir).lineitem
    return EV.copurchase_pairs(
        li, "l_orderkey", "l_partkey", min_item_support=20, min_pair_support=2
    )


@query(
    "sim_matryoshka",
    """
    SELECT vec_id,
           array_to_string(
             list_transform(pre,
               x -> CAST(floor(
                    CASE WHEN list_sum(list_transform(pre, y -> y * y)) = 0
                         THEN 0.0
                         ELSE x / sqrt(list_sum(
                                list_transform(pre, y -> y * y)))
                    END * 100000 + 0.5) AS BIGINT)), ',')
             AS unit8
    FROM (SELECT vec_id, (embedding::DOUBLE[])[:8] AS pre FROM embeddings)
    """,
)
def sim_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka (MRL) truncation (similarity.matryoshka): keep the
    first 8 dims and re-unit-normalize the prefix — the serving-side
    recall-for-memory trade for MRL-trained embeddings. Same
    let-binding norm shape as sim_l2_normalize, same 1e5-scaled
    integer serialization for the hash gate; zero shuffle."""
    e = Catalog(spark, sf_dir).embeddings
    return e.select(
        "vec_id",
        F.array_join(
            F.transform(
                SIM.matryoshka("embedding", 8),
                lambda x: F.floor(x * F.lit(100000) + F.lit(0.5))
                .cast("long")
                .cast("string"),
            ),
            ",",
        ).alias("unit8"),
    )


@query(
    "sim_int8_gram",
    """
    WITH qq AS MATERIALIZED (
      SELECT vec_id,
             list_transform(v, x -> CASE WHEN scale = 0 THEN 0
                                         ELSE CAST(floor(x / scale + 0.5) AS BIGINT)
                                    END)[:16] AS q
      FROM (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
                 AS scale
        FROM embeddings
      )
    ), ex AS MATERIALIZED (
      SELECT vec_id, unnest(q) AS x,
             unnest(range(1, len(q) + 1)) AS i
      FROM qq
    )
    SELECT a.i, b.i AS j,
           CAST(sum(a.x * b.x) AS BIGINT) AS sxy,
           CAST((SELECT count(*) FROM qq) AS BIGINT) AS n
    FROM ex a JOIN ex b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY a.i, b.i
    """,
)
def sim_int8_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact Gram matrix over int8-quantized 16-dim embedding
    prefixes (similarity.int8_gram) — the covariance/PCA/whitening
    prep step with order-independent long-integer accumulation, so
    the distributed sums verify hash-exact (a float Gram would drift
    with partial-sum ordering). Column-wise: 136 sum aggregates in
    one pass, no explode/self-join; the oracle re-derives it
    relationally (parallel unnest + self-join)."""
    e = Catalog(spark, sf_dir).embeddings
    return SIM.int8_gram(e, "vec_id", "embedding", dims=16)


def _pca_power_sql(dims: int = 16, rounds: int = 3, scale: int = 1000) -> str:
    """Unrolled-SQL oracle for sim_pca_projection: the same int8 Gram
    build as sim_int8_gram (full symmetric matrix), then each power
    iteration as one matrix-vector CTE pair (u = G·v via join+sum;
    renormalize with sign-split NON-NEGATIVE floor division — DuckDB
    ``//`` truncates on negatives while Python floors, so both
    engines do |u|·scale // m and reapply the sign). AS MATERIALIZED
    on every CTE: DuckDB inlines multiply-referenced CTEs and an
    iterative chain would expand combinatorially (the PageRank-oracle
    lesson)."""
    head = f"""
    WITH qq AS MATERIALIZED (
      SELECT vec_id,
             list_transform(v, x -> CASE WHEN scale = 0 THEN 0
                                         ELSE CAST(floor(x / scale + 0.5) AS BIGINT)
                                    END)[:{dims}] AS q
      FROM (
        SELECT vec_id, embedding::DOUBLE[] AS v,
               list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0
                 AS scale
        FROM embeddings
      )
    ), ex AS MATERIALIZED (
      SELECT vec_id, unnest(q) AS x,
             unnest(range(1, len(q) + 1)) AS i
      FROM qq
    ), g AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS gv
      FROM ex a JOIN ex b ON a.vec_id = b.vec_id
      GROUP BY a.i, b.i
    ), v0 AS MATERIALIZED (
      SELECT unnest(range(1, {dims + 1})) AS i,
             CAST({scale} AS BIGINT) AS v
    )"""
    body = ""
    for r in range(1, rounds + 1):
        body += f""", u{r} AS MATERIALIZED (
      SELECT g.i AS i, CAST(sum(g.gv * v{r - 1}.v) AS BIGINT) AS u
      FROM g JOIN v{r - 1} ON g.j = v{r - 1}.i
      GROUP BY g.i
    ), v{r} AS MATERIALIZED (
      SELECT i, CASE WHEN u < 0 THEN -((-u * {scale}) // m.m)
                     ELSE (u * {scale}) // m.m END AS v
      FROM u{r}, (SELECT max(abs(u)) AS m FROM u{r}) m
    )"""
    tail = f"""
    SELECT e.vec_id, CAST(sum(e.x * vf.v) AS BIGINT) AS proj
    FROM ex e JOIN v{rounds} vf ON e.i = vf.i
    GROUP BY e.vec_id
    """
    return head + body + tail


@query("sim_pca_projection", _pca_power_sql())
def sim_pca_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact PCA: project every embedding onto the top
    principal direction obtained by 3 fixed-point power iterations on
    the int8 Gram matrix (similarity.pca_power_projection) — the
    whitening/1-D-bucketing step of embedding pipelines, in the
    k-means/PageRank exactly-verifiable discipline. Driver holds d²
    longs; the projection itself is a zero-shuffle zip_with/aggregate
    over each vector's int8 quantization. The oracle unrolls the same
    iterations relationally (sign-split floor division pins the
    Python//DuckDB negative-division divergence)."""
    e = Catalog(spark, sf_dir).embeddings
    return SIM.pca_power_projection(e, "vec_id", "embedding")


@query(
    "v3_table_checksum",
    """
    WITH h AS (
      SELECT CAST(('0x' || substr(md5(
               concat_ws('|',
                 CASE WHEN l_orderkey IS NULL THEN 'N'
                      ELSE 'V' || CAST(length(CAST(l_orderkey AS VARCHAR)) AS VARCHAR)
                           || ':' || CAST(l_orderkey AS VARCHAR) END,
                 CASE WHEN l_partkey IS NULL THEN 'N'
                      ELSE 'V' || CAST(length(CAST(l_partkey AS VARCHAR)) AS VARCHAR)
                           || ':' || CAST(l_partkey AS VARCHAR) END,
                 CASE WHEN l_suppkey IS NULL THEN 'N'
                      ELSE 'V' || CAST(length(CAST(l_suppkey AS VARCHAR)) AS VARCHAR)
                           || ':' || CAST(l_suppkey AS VARCHAR) END,
                 CASE WHEN l_linenumber IS NULL THEN 'N'
                      ELSE 'V' || CAST(length(CAST(l_linenumber AS VARCHAR)) AS VARCHAR)
                           || ':' || CAST(l_linenumber AS VARCHAR) END,
                 CASE WHEN l_returnflag IS NULL THEN 'N'
                      ELSE 'V' || CAST(length(l_returnflag) AS VARCHAR)
                           || ':' || l_returnflag END,
                 CASE WHEN l_linestatus IS NULL THEN 'N'
                      ELSE 'V' || CAST(length(l_linestatus) AS VARCHAR)
                           || ':' || l_linestatus END)), 1, 15)) AS BIGINT) AS rh
      FROM lineitem
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(rh) % 4611686018427387904 AS BIGINT) AS checksum
    FROM h
    """,
)
def v3_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent content checksum (validation.table_checksum)
    over lineitem's integer/string columns — the validation rung
    above v1's count reconciliation (matching counts can still hide
    row-level divergence). SUM-mod-2^62 folding (duplicate-sensitive,
    unlike XOR) is order- and partition-independent, so it's one
    map-side-combinable pass whose exchange carries a single
    accumulator per partition; DuckDB's HUGEINT sum mirrors Spark's
    decimal(38,0) exactly below 2^126."""
    li = Catalog(spark, sf_dir).lineitem
    return V.table_checksum(
        li,
        [
            "l_orderkey",
            "l_partkey",
            "l_suppkey",
            "l_linenumber",
            "l_returnflag",
            "l_linestatus",
        ],
    )


@query(
    "m_image_decode_jpeg",
    """
    WITH g AS (
      SELECT doc_id, doc_id % 3 + 1 AS wb, doc_id % 2 + 1 AS hb
      FROM documents WHERE doc_id % 11 = 0
    ), b AS (
      SELECT doc_id, wb, hb, bx.x AS bx, by.y AS by
      FROM g,
           (SELECT unnest(range(0, 3)) AS x) bx,
           (SELECT unnest(range(0, 2)) AS y) by
      WHERE bx.x < wb AND by.y < hb
    ), v AS (
      SELECT doc_id, wb, hb,
             64 + 8 * ((bx + 3 * by + doc_id) % 17) AS val
      FROM b
    )
    SELECT doc_id,
           CAST(wb * 8 AS BIGINT) AS width,
           CAST(hb * 8 AS BIGINT) AS height,
           CAST(sum(val) AS DOUBLE) / count(*) AS mean_r,
           CAST(sum(val) AS DOUBLE) / count(*) AS mean_g,
           CAST(sum(val) AS DOUBLE) / count(*) AS mean_b
    FROM v GROUP BY doc_id, wb, hb
    """,
)
def m_image_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG path, driver-verifiable: per doc, synthesize
    a block-aligned grayscale image whose 8x8 blocks are flat values
    64 + 8k (k from doc_id/block position) — chosen so the Annex-K
    luminance quantization round-trips them EXACTLY (8·(v-128)/2
    divisible by the DC step, all AC zero) — encode with the
    dependency-free baseline encoder (Huffman + RLE entropy coding,
    byte stuffing, DC-diff prediction across blocks), decode with
    multimodal.parse_jpeg via decode_images. The oracle predicts
    dims/means analytically from the quantization-roundtrip theory
    (NOT from the decoder), so a hash match proves real JPEG entropy
    streams were decoded: headers walked, Huffman codes resolved, DC
    prediction chained, IDCT applied. 1/11 doc slice: the pure-Python
    entropy coder pays per-block loops."""
    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import encode_jpeg

    d = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id")
        .filter(F.expr("doc_id % 11 = 0"))
    )

    def make_payload(did: int) -> bytes:
        wb, hb = did % 3 + 1, did % 2 + 1
        px = np.zeros((hb * 8, wb * 8, 3), dtype=np.uint8)
        for by in range(hb):
            for bx in range(wb):
                v = 64 + 8 * ((bx + 3 * by + did) % 17)
                px[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8, :] = v
        return encode_jpeg(px)

    mm = _mm_payload_table(d, make_payload)
    return M.decode_images(mm).drop("content_digest")


@query(
    "m_image_decode_jpeg_progressive",
    """
    WITH g AS (
      SELECT doc_id, doc_id % 3 + 1 AS wb, doc_id % 2 + 1 AS hb
      FROM documents WHERE doc_id % 11 = 5
    ), b AS (
      SELECT doc_id, wb, hb, bx.x AS bx, by.y AS by
      FROM g,
           (SELECT unnest(range(0, 3)) AS x) bx,
           (SELECT unnest(range(0, 2)) AS y) by
      WHERE bx.x < wb AND by.y < hb
    ), v AS (
      SELECT doc_id, wb, hb,
             64 + 8 * ((bx + 3 * by + 2 * doc_id) % 17) AS val
      FROM b
    )
    SELECT doc_id,
           CAST(wb * 8 AS BIGINT) AS width,
           CAST(hb * 8 AS BIGINT) AS height,
           CAST(sum(val) AS DOUBLE) / count(*) AS mean_r,
           CAST(sum(val) AS DOUBLE) / count(*) AS mean_g,
           CAST(sum(val) AS DOUBLE) / count(*) AS mean_b
    FROM v GROUP BY doc_id, wb, hb
    """,
)
def m_image_decode_jpeg_progressive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG path (ISO 10918-1 Annex G), driver-
    verifiable: the m_image_decode_jpeg fixture re-encoded through
    encode_jpeg_progressive — nine scans (interleaved DC at Al=1,
    per-component spectral-selection AC bands, then the Ah=1→Al=0
    successive-approximation refinement pass), 4:2:0 subsampling and
    a 2-MCU restart interval, so decoding exercises EOBRUN, buffered
    refinement correction bits, per-scan table state, and the
    restart/EOB-run reset. The oracle predicts dims/means analytically
    from the quantization-roundtrip theory (NOT from the decoder), so
    a hash match proves real multi-scan entropy streams were
    accumulated and IDCT'd. Disjoint 1/11 slice (doc_id % 11 = 5)
    from the baseline query."""
    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_jpeg_progressive,
    )

    d = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id")
        .filter(F.expr("doc_id % 11 = 5"))
    )

    def make_payload(did: int) -> bytes:
        wb, hb = did % 3 + 1, did % 2 + 1
        px = np.zeros((hb * 8, wb * 8, 3), dtype=np.uint8)
        for by in range(hb):
            for bx in range(wb):
                v = 64 + 8 * ((bx + 3 * by + 2 * did) % 17)
                px[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8, :] = v
        return encode_jpeg_progressive(
            px, subsampling="420", restart_interval=2
        )

    mm = _mm_payload_table(d, make_payload)
    return M.decode_images(mm).drop("content_digest")


@query(
    "m_audio_features",
    """
    WITH g AS (
      SELECT doc_id,
             400 + (doc_id % 3) * 128 AS n,
             1000 + (doc_id % 5) * 500 AS A,
             2 + doc_id % 4 AS half
      FROM documents WHERE doc_id % 6 = 2
    ), w AS (
      SELECT doc_id, n, A, half, wi.wi AS window_idx,
             CASE WHEN (wi.wi + 1) * 128 <= n THEN 128
                  ELSE n - wi.wi * 128 END AS ns
      FROM g, (SELECT unnest(range(0, 8)) AS wi) wi
      WHERE wi.wi * 128 < n
    )
    SELECT doc_id,
           CAST(window_idx AS BIGINT) AS window_idx,
           CAST(ns AS BIGINT) AS n_samples,
           CAST(ns * A * A AS BIGINT) AS sum_sq,
           CAST(((window_idx * 128 + ns - 1) // half)
                - ((window_idx * 128) // half) AS BIGINT)
             AS zero_crossings
    FROM w
    """,
)
def m_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio energy + zero-crossing extraction
    (multimodal.audio_features) over real PCM16 WAVs: per doc a
    square wave with doc-keyed amplitude A and half-period, decoded
    through the stdlib wave parser and framed into 128-sample
    windows. Analytic oracle: sum_sq = n·A² per window exactly, and
    the crossings in a window are the multiples of the half-period
    falling strictly inside it — floor-division arithmetic both
    engines share. A hash match proves real sample data flowed
    through decode → framing → integer features. 1/6 doc slice."""
    import io as _io
    import wave as _wave

    import numpy as np

    d = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id")
        .filter(F.expr("doc_id % 6 = 2"))
    )

    def make_payload(did: int) -> bytes:
        n = 400 + (did % 3) * 128
        amp = 1000 + (did % 5) * 500
        half = 2 + did % 4
        idx = np.arange(n)
        samples = np.where((idx // half) % 2 == 0, amp, -amp).astype("<i2")
        buf = _io.BytesIO()
        with _wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(samples.tobytes())
        return buf.getvalue()

    mm = _mm_payload_table(d, make_payload)
    return M.audio_features(mm, window=128)


@query(
    "m_image_dhash",
    """
    WITH g AS (
      SELECT doc_id,
             18 + (doc_id % 3) * 9 AS W,
             16 + (doc_id % 2) * 8 AS H,
             1 + (doc_id % 4) AS cx,
             1 + (doc_id % 3) AS cy
      FROM documents WHERE doc_id % 7 = 1
    ), rowbytes AS (
      SELECT doc_id, W, H, y.y AS y,
        CAST(sum(
          CASE WHEN
            (CASE WHEN ((((x.x * W) // 9) // cx
                         + ((y.y * H) // 8) // cy) % 2 = 0)
                  THEN 255 ELSE 0 END)
            >
            (CASE WHEN (((((x.x + 1) * W) // 9) // cx
                         + ((y.y * H) // 8) // cy) % 2 = 0)
                  THEN 255 ELSE 0 END)
          THEN 1 << (7 - x.x) ELSE 0 END) AS BIGINT) AS rv
      FROM g,
           (SELECT unnest(range(0, 8)) AS y) y,
           (SELECT unnest(range(0, 8)) AS x) x
      GROUP BY doc_id, W, H, y.y, cx, cy
    )
    SELECT doc_id,
           string_agg(lpad(lower(to_hex(rv)), 2, '0'), '' ORDER BY y)
             AS dhash,
           CAST(W AS BIGINT) AS width,
           CAST(H AS BIGINT) AS height
    FROM rowbytes GROUP BY doc_id, W, H
    """,
)
def m_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image hashing (multimodal.image_dhash) — the
    LAION-style near-dup key: per doc, a checkerboard BMP whose cell
    size and dims are keyed off doc_id, decoded through the real
    codec and dHashed (integer grayscale, nearest-neighbor 9x8 grid,
    per-row MSB-first difference bits as hex). The oracle computes
    the SAME 64 bits analytically from the checkerboard formula —
    never touching the decoder — so a hash match proves pixels came
    through the codec and the sampling/packing is bit-exact. Docs
    sharing doc_id%12 render identical images and must collide; a
    groupBy on dhash is the dedup step. 1/7 slice (pure-Python BMP
    encode pays per-pixel loops)."""
    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import encode_bmp

    d = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id")
        .filter(F.expr("doc_id % 7 = 1"))
    )

    def make_payload(did: int) -> bytes:
        w = 18 + (did % 3) * 9
        h = 16 + (did % 2) * 8
        cx = 1 + did % 4
        cy = 1 + did % 3
        xs = np.arange(w)
        ys = np.arange(h)
        pat = (xs[None, :] // cx + ys[:, None] // cy) % 2 == 0
        v = np.where(pat, 255, 0).astype(np.uint8)
        return encode_bmp(np.stack([v, v, v], axis=-1))

    mm = _mm_payload_table(d, make_payload)
    return M.image_dhash(mm)


def _image_neardup_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared fixture for m_image_neardup / m_image_neardup_probe:
    per family of 4 consecutive sliced docs, an md5-mixed 9×8
    grayscale board rendered as (v0) BMP, (v1) PNG — same pixels, two
    real codecs — (v2) a ≤3-bit column-0 perturbation, (v3) an
    unrelated board. 9×8 dims make the dHash grid the pixel grid, so
    the oracles recompute the 64 bits analytically. ONE builder so
    the cluster and probe fixtures can never silently fork."""
    import hashlib

    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_bmp,
        encode_png,
    )

    d = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id")
        .filter(F.expr("doc_id % 5 = 2"))
    )

    def make_payload(did: int) -> bytes:
        variant = (did // 5) % 4
        s = did // 20 + (1000003 if variant == 3 else 0)
        v = np.array(
            [
                [
                    int(
                        hashlib.md5(f"{s}_{y}_{x}".encode()).hexdigest()[:2],
                        16,
                    )
                    for x in range(9)
                ]
                for y in range(8)
            ],
            dtype=np.int64,
        )
        if variant == 2:
            v[0:3, 0] = 255 - v[0:3, 0]
        px = np.stack([v, v, v], axis=-1).astype(np.uint8)
        return encode_png(px) if variant == 1 else encode_bmp(px)

    return _mm_payload_table(d, make_payload)


@query(
    "m_image_neardup",
    """
    WITH RECURSIVE params AS (
      SELECT doc_id,
             CASE WHEN (doc_id // 5) % 4 = 3 THEN doc_id // 20 + 1000003
                  ELSE doc_id // 20 END AS s,
             (doc_id // 5) % 4 AS variant
      FROM documents WHERE doc_id % 5 = 2
    ), px AS (
      SELECT doc_id, y.y AS y, x.x AS x,
        CASE WHEN variant = 2 AND x.x = 0 AND y.y < 3
             THEN 255 - ('0x' || substr(md5(s || '_' || y.y || '_' || x.x),
                                        1, 2))::BIGINT
             ELSE ('0x' || substr(md5(s || '_' || y.y || '_' || x.x),
                                  1, 2))::BIGINT
        END AS v
      FROM params,
           (SELECT unnest(range(0, 8)) AS y) y,
           (SELECT unnest(range(0, 9)) AS x) x
    ), cmp AS (
      SELECT doc_id, y, x, v,
             lead(v) OVER (PARTITION BY doc_id, y ORDER BY x) AS vn
      FROM px
    ), rowbytes AS (
      SELECT doc_id, y,
             CAST(sum(CASE WHEN v > vn THEN 1 << (7 - x) ELSE 0 END)
                  AS BIGINT) AS rv
      FROM cmp WHERE x < 8 GROUP BY doc_id, y
    ), hashes AS (
      SELECT doc_id,
             string_agg(lpad(lower(to_hex(rv)), 2, '0'), '' ORDER BY y)
               AS dhash
      FROM rowbytes GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, dhash, b.b AS band,
             substr(dhash, b.b * 4 + 1, 4) AS band_key
      FROM hashes, (SELECT unnest(range(0, 4)) AS b) b
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.dhash AS da, b.dhash AS db
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ), pairs AS (
      SELECT id_a, id_b FROM cand
      WHERE bit_count(xor(('0x' || substr(da, 1, 4))::BIGINT,
                          ('0x' || substr(db, 1, 4))::BIGINT))
          + bit_count(xor(('0x' || substr(da, 5, 4))::BIGINT,
                          ('0x' || substr(db, 5, 4))::BIGINT))
          + bit_count(xor(('0x' || substr(da, 9, 4))::BIGINT,
                          ('0x' || substr(db, 9, 4))::BIGINT))
          + bit_count(xor(('0x' || substr(da, 13, 4))::BIGINT,
                          ('0x' || substr(db, 13, 4))::BIGINT)) <= 3
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ), walk(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT w.u, e.v FROM walk w JOIN edges e ON w.v = e.u
    )
    SELECT u AS id, least(u, min(v)) AS component
    FROM walk GROUP BY u
    """,
)
def m_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAION-style image near-dup dedup END-TO-END — image_dhash
    composed with the dedup family (multimodal.image_neardup_clusters):
    Hamming-banded blocking over the 64-bit key (4×16-bit bands —
    within Hamming 3, pigeonhole guarantees a shared band), per-bucket
    self-join candidates, exact Hamming confirm, large-star/small-star
    connected components. Fixture (1/5 slice, 4 variants per family of
    consecutive docs): a 9×8 grayscale board per family with md5-mixed
    pixels (families land ~Hamming-32 apart, so clusters ARE families)
    rendered (v0) as BMP and (v1) as PNG — SAME pixels through two real
    codecs, dHash must be identical (codec invariance) — plus (v2) the
    board with three pixels of column 0 value-inverted, a ≤3-bit
    perturbation (each column-0 pixel feeds exactly one difference
    bit), and (v3) an unrelated board that must NOT confirm. 9×8 dims
    make the dHash grid the pixel grid, so the ORACLE computes the same
    64 bits analytically from the board formula — then reruns banding,
    the per-chunk xor/popcount confirm, and a recursive-CTE transitive
    closure, never touching a codec: a match proves the real
    BMP/PNG byte paths and the banded/confirmed/clustered pipeline
    end-to-end. Plan: one banded self-join exchange + the CC rounds
    over confirmed pairs — candidate-bounded, never all-pairs."""
    mm = _image_neardup_fixture(spark, sf_dir)
    return M.image_neardup_clusters(M.image_dhash(mm))


@query(
    "m_image_neardup_probe",
    """
    WITH RECURSIVE params AS (
      SELECT doc_id,
             CASE WHEN (doc_id // 5) % 4 = 3 THEN doc_id // 20 + 1000003
                  ELSE doc_id // 20 END AS s,
             (doc_id // 5) % 4 AS variant
      FROM documents WHERE doc_id % 5 = 2
    ), px AS (
      SELECT doc_id, y.y AS y, x.x AS x,
        CASE WHEN variant = 2 AND x.x = 0 AND y.y < 3
             THEN 255 - ('0x' || substr(md5(s || '_' || y.y || '_' || x.x),
                                        1, 2))::BIGINT
             ELSE ('0x' || substr(md5(s || '_' || y.y || '_' || x.x),
                                  1, 2))::BIGINT
        END AS v
      FROM params,
           (SELECT unnest(range(0, 8)) AS y) y,
           (SELECT unnest(range(0, 9)) AS x) x
    ), cmp AS (
      SELECT doc_id, y, x, v,
             lead(v) OVER (PARTITION BY doc_id, y ORDER BY x) AS vn
      FROM px
    ), rowbytes AS (
      SELECT doc_id, y,
             CAST(sum(CASE WHEN v > vn THEN 1 << (7 - x) ELSE 0 END)
                  AS BIGINT) AS rv
      FROM cmp WHERE x < 8 GROUP BY doc_id, y
    ), hashes AS (
      SELECT doc_id,
             string_agg(lpad(lower(to_hex(rv)), 2, '0'), '' ORDER BY y)
               AS dhash
      FROM rowbytes GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, dhash, b.b AS band,
             substr(dhash, b.b * 4 + 1, 4) AS band_key
      FROM hashes, (SELECT unnest(range(0, 4)) AS b) b
    ), cand AS (
      SELECT DISTINCT n.doc_id AS id_new, h.doc_id AS id_indexed,
                      n.dhash AS dn, h.dhash AS dh
      FROM bands n
      JOIN bands h ON n.band = h.band AND n.band_key = h.band_key
      WHERE n.doc_id % 3 = 0 AND h.doc_id % 3 != 0
    )
    SELECT id_new, id_indexed, hamming FROM (
      SELECT id_new, id_indexed,
        bit_count(xor(('0x' || substr(dn, 1, 4))::BIGINT,
                      ('0x' || substr(dh, 1, 4))::BIGINT))
      + bit_count(xor(('0x' || substr(dn, 5, 4))::BIGINT,
                      ('0x' || substr(dh, 5, 4))::BIGINT))
      + bit_count(xor(('0x' || substr(dn, 9, 4))::BIGINT,
                      ('0x' || substr(dh, 9, 4))::BIGINT))
      + bit_count(xor(('0x' || substr(dn, 13, 4))::BIGINT,
                      ('0x' || substr(dh, 13, 4))::BIGINT)) AS hamming
      FROM cand
    ) WHERE hamming <= 3
    """,
)
def m_image_neardup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL image near-dup against the PERSISTED dHash index
    (multimodal.write_dhash_index → image_neardup_against_index): the
    image history (doc_id %% 3 != 0 of the m_image_neardup fixture)
    is dHashed and banded ONCE onto disk (Hive-partitioned by band +
    a 1-row stats frame); the new batch (doc_id %% 3 == 0) bands only
    itself and equi-joins the index — history is never re-decoded.
    Banding derives from the index's OWN stats row (the
    bm25_probe_indexed rule). The oracle recomputes every hash
    analytically and emits exactly the cross-split confirmed pairs —
    probe == batch pipeline restricted to (new × indexed), the
    incremental-equals-batch discipline. Scratch index keyed by
    fixture + pid (no concurrent-run races)."""
    import os
    import tempfile

    mm = _image_neardup_fixture(spark, sf_dir)
    dh = M.image_dhash(mm).localCheckpoint(eager=False)
    hist = dh.filter(F.col("doc_id") % 3 != 0)
    batch = dh.filter(F.col("doc_id") % 3 == 0)
    path = os.path.join(
        tempfile.gettempdir(),
        "mongodb_etl_migration_spark_dhashidx_"
        f"{os.path.basename(os.path.normpath(sf_dir))}_{os.getpid()}",
    )
    M.write_dhash_index(hist, path)
    return M.image_neardup_against_index(batch, path)


@query(
    "m_video_neardup",
    """
    WITH params AS (
      SELECT doc_id, (doc_id // 7) // 3 AS fam, (doc_id // 7) % 3 AS variant
      FROM documents WHERE doc_id % 7 = 4
    ), fr AS (
      SELECT doc_id, k.k AS frame_idx,
             CASE WHEN variant = 0 THEN fam * 1000 + k.k
                  WHEN variant = 1 THEN fam * 1000 + k.k + 1
                  ELSE fam * 1000 + 100 + k.k END AS seed
      FROM params, (SELECT unnest(range(0, 4)) AS k) k
    ), px AS (
      SELECT doc_id, frame_idx, y.y AS y, x.x AS x,
             (('0x' || substr(md5(seed || '_' || y.y || '_' || x.x),
                              1, 2))::BIGINT // 4) * 4 AS v
      FROM fr,
           (SELECT unnest(range(0, 8)) AS y) y,
           (SELECT unnest(range(0, 9)) AS x) x
    ), cmp AS (
      SELECT doc_id, frame_idx, y, x, v,
             lead(v) OVER (PARTITION BY doc_id, frame_idx, y
                           ORDER BY x) AS vn
      FROM px
    ), rowbytes AS (
      SELECT doc_id, frame_idx, y,
             CAST(sum(CASE WHEN v > vn THEN 1 << (7 - x) ELSE 0 END)
                  AS BIGINT) AS rv
      FROM cmp WHERE x < 8 GROUP BY doc_id, frame_idx, y
    ), hashes AS (
      SELECT DISTINCT doc_id, dhash FROM (
        SELECT doc_id, frame_idx,
               string_agg(lpad(lower(to_hex(rv)), 2, '0'), ''
                          ORDER BY y) AS dhash
        FROM rowbytes GROUP BY doc_id, frame_idx
      )
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM hashes a
    JOIN hashes b ON a.dhash = b.dhash AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def m_video_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO near-dup via per-frame perceptual keys
    (multimodal.video_dhash_frames → video_neardup_pairs): every
    frame of each payload decodes through the REAL animated-GIF codec
    and dHashes; two videos match when they share ≥ 2 distinct frame
    keys — the trim/re-encode duplication mode video dumps have
    (exact container digests break on both). Fixture (1/7 slice,
    families of 3): v0 = 4 md5-board frames, v1 = the SAME reel
    shifted one frame (a trim — shares 3 of 4), v2 = an unrelated
    reel; GIF is LOSSLESS (palette of 64 grays, board values
    quantized to multiples of 4), so the decoded pixels ARE the
    boards and the oracle recomputes every frame hash analytically —
    codec, frame walk, hashing, and the shared-frame join all
    cross-checked, no codec in the oracle. Plan: the frame hash IS
    the blocking key — one distinct (video, hash) exchange + the
    per-hash self-join above a single repartition (ReusedExchange);
    never all-pairs of videos."""
    mm = _video_neardup_fixture(spark, sf_dir)
    return M.video_neardup_pairs(
        M.video_dhash_frames(mm), min_shared=2
    )


def _video_neardup_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared fixture for m_video_neardup / m_video_neardup_probe
    (1/7 slice ``doc_id %% 7 = 4``, families of 3): v0 = 4 md5-board
    frames, v1 = the SAME reel shifted one frame (a trim — shares 3
    of 4), v2 = an unrelated reel; lossless GIF (64-gray palette,
    values quantized to multiples of 4) so oracles recompute every
    frame hash analytically. ONE builder so the cluster and probe
    fixtures can never silently fork (the _image_neardup_fixture
    rule)."""
    import hashlib

    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import encode_gif

    d = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id")
        .filter(F.expr("doc_id % 7 = 4"))
    )
    pal = np.array([[4 * i] * 3 for i in range(64)], dtype=np.uint8)

    def make_payload(did: int) -> bytes:
        k0 = did // 7
        fam, variant = k0 // 3, k0 % 3
        seeds = {
            0: [fam * 1000 + k for k in range(4)],
            1: [fam * 1000 + k + 1 for k in range(4)],
            2: [fam * 1000 + 100 + k for k in range(4)],
        }[variant]
        frames = []
        for s in seeds:
            idx = np.array(
                [
                    [
                        int(
                            hashlib.md5(
                                f"{s}_{y}_{x}".encode()
                            ).hexdigest()[:2],
                            16,
                        )
                        // 4
                        for x in range(9)
                    ]
                    for y in range(8)
                ],
                dtype=np.uint8,
            )
            frames.append(idx)
        return encode_gif(frames, pal)

    return _mm_payload_table(d, make_payload)


@query(
    "m_image_caption_curation",
    """
    WITH RECURSIVE params AS (
      SELECT doc_id,
             CASE WHEN (doc_id // 5) % 4 = 3 THEN doc_id // 20 + 1000003
                  ELSE doc_id // 20 END AS s,
             (doc_id // 5) % 4 AS variant
      FROM documents WHERE doc_id % 5 = 2
    ), px AS (
      SELECT doc_id, y.y AS y, x.x AS x,
        CASE WHEN variant = 2 AND x.x = 0 AND y.y < 3
             THEN 255 - ('0x' || substr(md5(s || '_' || y.y || '_' || x.x),
                                        1, 2))::BIGINT
             ELSE ('0x' || substr(md5(s || '_' || y.y || '_' || x.x),
                                  1, 2))::BIGINT
        END AS v
      FROM params,
           (SELECT unnest(range(0, 8)) AS y) y,
           (SELECT unnest(range(0, 9)) AS x) x
    ), cmp AS (
      SELECT doc_id, y, x, v,
             lead(v) OVER (PARTITION BY doc_id, y ORDER BY x) AS vn
      FROM px
    ), rowbytes AS (
      SELECT doc_id, y,
             CAST(sum(CASE WHEN v > vn THEN 1 << (7 - x) ELSE 0 END)
                  AS BIGINT) AS rv
      FROM cmp WHERE x < 8 GROUP BY doc_id, y
    ), hashes AS (
      SELECT doc_id,
             string_agg(lpad(lower(to_hex(rv)), 2, '0'), '' ORDER BY y)
               AS dhash
      FROM rowbytes GROUP BY doc_id
    ), bands AS (
      SELECT doc_id, dhash, b.b AS band,
             substr(dhash, b.b * 4 + 1, 4) AS band_key
      FROM hashes, (SELECT unnest(range(0, 4)) AS b) b
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                      a.dhash AS da, b.dhash AS db
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
      WHERE a.doc_id < b.doc_id
    ), pairs AS (
      SELECT id_a, id_b FROM cand
      WHERE bit_count(xor(('0x' || substr(da, 1, 4))::BIGINT,
                          ('0x' || substr(db, 1, 4))::BIGINT))
          + bit_count(xor(('0x' || substr(da, 5, 4))::BIGINT,
                          ('0x' || substr(db, 5, 4))::BIGINT))
          + bit_count(xor(('0x' || substr(da, 9, 4))::BIGINT,
                          ('0x' || substr(db, 9, 4))::BIGINT))
          + bit_count(xor(('0x' || substr(da, 13, 4))::BIGINT,
                          ('0x' || substr(db, 13, 4))::BIGINT)) <= 3
    ), edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL
      SELECT id_b, id_a FROM pairs
    ), walk(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT w.u, e.v FROM walk w JOIN edges e ON w.v = e.u
    ), losers AS (
      SELECT u AS id FROM walk GROUP BY u
      HAVING u != least(u, min(v))
    )
    SELECT h.doc_id, h.dhash,
           CAST(len(regexp_extract_all(lower(d.text), '[a-z0-9]+'))
                AS BIGINT) AS n_tokens
    FROM hashes h
    JOIN documents d ON d.doc_id = h.doc_id
    LEFT JOIN losers l ON l.id = h.doc_id
    WHERE l.id IS NULL
      AND len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) >= 3
    """,
)
def m_image_caption_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LAION-shape image-CAPTION pair curation END-TO-END — the
    multimodal twin of the FineWeb text pipeline, composing the
    modality chain with the generic dedup machinery ACROSS tables:
    decode → dHash (real BMP/PNG codecs) → banded near-dup pairs →
    dedup_representatives (min-id survivor per connected component,
    singletons untouched — dedup PROPAGATION to the pair table, the
    step LAION-style pipelines get wrong when they dedup images but
    keep orphaned captions) → join the surviving images back to
    their caption rows → caption quality gate (≥ 3 tokens). On the
    shared image fixture each family's {BMP, PNG re-encode,
    perturbed} cluster collapses to its min-id member while the
    unrelated variant survives alone. Output: (doc_id, dhash,
    n_tokens) for curated pairs. The oracle recomputes hashes
    analytically, reruns banding/confirm/star-closure in SQL, takes
    the same min-id survivors and applies the same token gate. Plan:
    the near-dup exchanges (banded self-join + CC rounds) + one
    LEFT ANTI against the duplicate-sized loser set + the caption
    join — the corpus crosses no exchange it wouldn't cross in
    m_image_neardup."""
    mm = _image_neardup_fixture(spark, sf_dir)
    dh = M.image_dhash(mm).localCheckpoint(eager=False)
    pairs = M.image_neardup_pairs(dh)
    keep = D.dedup_representatives(
        dh.select("doc_id", "dhash"), pairs, "doc_id"
    )
    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    return (
        keep.join(docs, "doc_id")
        .withColumn("n_tokens", F.size(T.tokens("text")).cast("long"))
        .filter(F.col("n_tokens") >= 3)
        .select("doc_id", "dhash", "n_tokens")
    )


@query(
    "m_video_neardup_probe",
    """
    WITH params AS (
      SELECT doc_id, (doc_id // 7) // 3 AS fam, (doc_id // 7) % 3 AS variant
      FROM documents WHERE doc_id % 7 = 4
    ), fr AS (
      SELECT doc_id, variant, k.k AS frame_idx,
             CASE WHEN variant = 0 THEN fam * 1000 + k.k
                  WHEN variant = 1 THEN fam * 1000 + k.k + 1
                  ELSE fam * 1000 + 100 + k.k END AS seed
      FROM params, (SELECT unnest(range(0, 4)) AS k) k
    ), px AS (
      SELECT doc_id, variant, frame_idx, y.y AS y, x.x AS x,
             (('0x' || substr(md5(seed || '_' || y.y || '_' || x.x),
                              1, 2))::BIGINT // 4) * 4 AS v
      FROM fr,
           (SELECT unnest(range(0, 8)) AS y) y,
           (SELECT unnest(range(0, 9)) AS x) x
    ), cmp AS (
      SELECT doc_id, variant, frame_idx, y, x, v,
             lead(v) OVER (PARTITION BY doc_id, frame_idx, y
                           ORDER BY x) AS vn
      FROM px
    ), rowbytes AS (
      SELECT doc_id, variant, frame_idx, y,
             CAST(sum(CASE WHEN v > vn THEN 1 << (7 - x) ELSE 0 END)
                  AS BIGINT) AS rv
      FROM cmp WHERE x < 8 GROUP BY doc_id, variant, frame_idx, y
    ), hashes AS (
      SELECT DISTINCT doc_id, variant, dhash FROM (
        SELECT doc_id, variant, frame_idx,
               string_agg(lpad(lower(to_hex(rv)), 2, '0'), ''
                          ORDER BY y) AS dhash
        FROM rowbytes GROUP BY doc_id, variant, frame_idx
      )
    )
    SELECT n.doc_id AS id_new, h.doc_id AS id_indexed,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM hashes n
    JOIN hashes h ON n.dhash = h.dhash
    WHERE n.variant = 0 AND h.variant != 0
    GROUP BY 1, 2 HAVING count(*) >= 2
    """,
)
def m_video_neardup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL video near-dup against the PERSISTED frame-hash
    index (multimodal.write_video_frame_index →
    video_neardup_against_index — the last modality gets its probe
    path, closing the image/audio/video symmetry): the video history
    (variants 1-2 of the m_video_neardup fixture) decodes + dHashes
    ONCE into md5-bucketed distinct (kb, dhash, doc_id) postings
    with a self-describing stats row (buckets, every_n, n_videos);
    the new batch (variant 0) decodes only itself WITH THE INDEX'S
    OWN frame stride and equi-joins on (kb, dhash) — history never
    re-decoded, index partitions pruned to the batch's buckets. The
    oracle recomputes every frame hash analytically and emits the
    cross-split shared-frame counts — probe == batch pipeline
    restricted to (new × indexed). Scratch index keyed by fixture +
    pid (no concurrent-run races)."""
    import os
    import tempfile

    mm = _video_neardup_fixture(spark, sf_dir)
    frames = M.video_dhash_frames(mm).localCheckpoint(eager=False)
    k0 = F.floor(F.col("doc_id") / 7).cast("long")
    hist = frames.filter(k0 % 3 != 0)
    batch_mm = mm.filter(
        F.floor(F.col("doc_id") / 7).cast("long") % 3 == 0
    )
    path = os.path.join(
        tempfile.gettempdir(),
        "mongodb_etl_migration_spark_vframeidx_"
        f"{os.path.basename(os.path.normpath(sf_dir))}_{os.getpid()}",
    )
    M.write_video_frame_index(hist, path, every_n=1)
    return M.video_neardup_against_index(batch_mm, path, min_shared=2)


@query(
    "m_video_neardup_aligned",
    """
    WITH params AS (
      SELECT doc_id, (doc_id // 7) // 3 AS fam, (doc_id // 7) % 3 AS variant
      FROM documents WHERE doc_id % 7 = 5
    ), fr AS (
      SELECT doc_id, k.k AS frame_idx,
             CASE WHEN variant = 0 THEN fam * 1000 + k.k
                  WHEN variant = 1 THEN fam * 1000 + k.k + 1
                  ELSE fam * 1000 + (5 - k.k) END AS seed
      FROM params, (SELECT unnest(range(0, 6)) AS k) k
      WHERE k.k < CASE WHEN variant = 1 THEN 4 ELSE 6 END
    ), px AS (
      SELECT doc_id, frame_idx, y.y AS y, x.x AS x,
             (('0x' || substr(md5(seed || '_' || y.y || '_' || x.x),
                              1, 2))::BIGINT // 4) * 4 AS v
      FROM fr,
           (SELECT unnest(range(0, 8)) AS y) y,
           (SELECT unnest(range(0, 9)) AS x) x
    ), cmp AS (
      SELECT doc_id, frame_idx, y, x, v,
             lead(v) OVER (PARTITION BY doc_id, frame_idx, y
                           ORDER BY x) AS vn
      FROM px
    ), rowbytes AS (
      SELECT doc_id, frame_idx, y,
             CAST(sum(CASE WHEN v > vn THEN 1 << (7 - x) ELSE 0 END)
                  AS BIGINT) AS rv
      FROM cmp WHERE x < 8 GROUP BY doc_id, frame_idx, y
    ), hashes AS (
      SELECT doc_id, frame_idx,
             string_agg(lpad(lower(to_hex(rv)), 2, '0'), '' ORDER BY y)
               AS dhash
      FROM rowbytes GROUP BY doc_id, frame_idx
    ), mt AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.dhash AS dhash,
             a.frame_idx AS idx_a, b.frame_idx AS idx_b,
             b.frame_idx - a.frame_idx AS delta
      FROM hashes a
      JOIN hashes b ON a.dhash = b.dhash AND a.doc_id < b.doc_id
    ), isl AS (
      SELECT id_a, id_b, delta, dhash,
             idx_a - row_number() OVER (PARTITION BY id_a, id_b, delta
                                        ORDER BY idx_a) AS g
      FROM mt
    ), runs AS (
      SELECT id_a, id_b, delta, g, count(*) AS run
      FROM isl GROUP BY 1, 2, 3, 4
    ), rmax AS (
      SELECT id_a, id_b, max(run) AS longest_run
      FROM runs GROUP BY 1, 2
    ), ns AS (
      SELECT id_a, id_b, count(DISTINCT dhash) AS n_shared
      FROM mt GROUP BY 1, 2
    )
    SELECT ns.id_a, ns.id_b, CAST(ns.n_shared AS BIGINT) AS n_shared,
           CAST(rmax.longest_run AS BIGINT) AS longest_run
    FROM ns JOIN rmax ON ns.id_a = rmax.id_a AND ns.id_b = rmax.id_b
    WHERE ns.n_shared >= 2
    """,
)
def m_video_neardup_aligned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORALLY-ALIGNED video near-dup
    (multimodal.video_neardup_aligned): bag-of-frames min_shared
    upgraded with the longest ALIGNED run — matches sharing one index
    delta on consecutive source indices (gaps-and-islands on
    ``idx_a - row_number()`` within (pair, delta)). Fixture (1/7
    slice ``doc_id %% 7 = 5``, families of 3, real lossless-GIF
    md5-board frames like m_video_neardup): v0 = frames 0..5, v1 =
    the TRIMMED copy (frames 1..4 — constant delta, aligned run 4),
    v2 = the REVERSED re-cut of the SAME six frames (every delta
    distinct, so every run is 1). Bag-of-frames cannot separate v1
    (n_shared 4) from v2 (n_shared 6 — MORE shared frames!), but
    longest_run ranks the trim 4 vs the shuffle 1 — exactly the
    separation the fixture plants. The oracle regenerates every frame
    hash analytically (GIF is lossless, pixels are the quantized md5
    boards) and reruns the match/island/run algebra in SQL window
    functions — codec, frame walk, join, and the alignment window all
    cross-checked. Plan: frame-hash blocking above ONE repartition
    (ReusedExchange); the islands window and aggregates are
    candidate-match-bounded, all partitioned."""
    import hashlib

    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import encode_gif

    d = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id")
        .filter(F.expr("doc_id % 7 = 5"))
    )
    pal = np.array([[4 * i] * 3 for i in range(64)], dtype=np.uint8)

    def make_payload(did: int) -> bytes:
        k0 = did // 7
        fam, variant = k0 // 3, k0 % 3
        seeds = {
            0: [fam * 1000 + k for k in range(6)],
            1: [fam * 1000 + k + 1 for k in range(4)],
            2: [fam * 1000 + (5 - k) for k in range(6)],
        }[variant]
        frames = []
        for s in seeds:
            idx = np.array(
                [
                    [
                        int(
                            hashlib.md5(
                                f"{s}_{y}_{x}".encode()
                            ).hexdigest()[:2],
                            16,
                        )
                        // 4
                        for x in range(9)
                    ]
                    for y in range(8)
                ],
                dtype=np.uint8,
            )
            frames.append(idx)
        return encode_gif(frames, pal)

    mm = _mm_payload_table(d, make_payload)
    return M.video_neardup_aligned(
        M.video_dhash_frames(mm), min_shared=2
    )


_AUDIO_NEARDUP_CTES = """
    WITH params AS MATERIALIZED (
      SELECT doc_id, (doc_id // 7) // 3 AS fam, (doc_id // 7) % 3 AS variant
      FROM documents WHERE doc_id % 7 = 6
    ), smp AS MATERIALIZED (
      SELECT doc_id, w.w AS window_idx, i.i AS i,
             CASE WHEN (CASE WHEN variant = 2 THEN w.w + 3 ELSE w.w END) = 1
                  THEN 0
                  ELSE ((('0x' || substr(md5(fam || ':' ||
                            (CASE WHEN variant = 2 THEN w.w + 3 ELSE w.w END)
                            || ':' || i.i), 1, 4))::BIGINT % 16384) - 8192)
                       * (CASE WHEN variant = 1 THEN 2 ELSE 1 END)
             END AS s
      FROM params,
           (SELECT unnest(range(0, 8)) AS w) w,
           (SELECT unnest(range(0, 256)) AS i) i
    ), lagd AS MATERIALIZED (
      SELECT doc_id, window_idx, s,
             lag(s, 1) OVER w AS s1, lag(s, 2) OVER w AS s2,
             lag(s, 4) OVER w AS s4, lag(s, 8) OVER w AS s8,
             lag(s, 16) OVER w AS s16, lag(s, 32) OVER w AS s32,
             lead(s, 1) OVER w AS sn
      FROM smp
      WINDOW w AS (PARTITION BY doc_id, window_idx ORDER BY i)
    ), feat AS MATERIALIZED (
      SELECT doc_id, window_idx,
             CAST(sum(CASE WHEN s * sn < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS zc,
             CAST(sum(CASE WHEN s1 IS NOT NULL
                           THEN (s - s1) * (s - s1) ELSE 0 END) AS BIGINT)
               AS d0,
             CAST(sum(CASE WHEN s2 IS NOT NULL
                           THEN (s - s2) * (s - s2) ELSE 0 END) AS BIGINT)
               AS d1,
             CAST(sum(CASE WHEN s4 IS NOT NULL
                           THEN (s - s4) * (s - s4) ELSE 0 END) AS BIGINT)
               AS d2,
             CAST(sum(CASE WHEN s8 IS NOT NULL
                           THEN (s - s8) * (s - s8) ELSE 0 END) AS BIGINT)
               AS d3,
             CAST(sum(CASE WHEN s16 IS NOT NULL
                           THEN (s - s16) * (s - s16) ELSE 0 END) AS BIGINT)
               AS d4,
             CAST(sum(CASE WHEN s32 IS NOT NULL
                           THEN (s - s32) * (s - s32) ELSE 0 END) AS BIGINT)
               AS d5
      FROM lagd GROUP BY 1, 2
    )"""

# per-(audio, window) keyed rows — the prefix above plus the keyed
# fingerprint CTE WITH window_idx retained (the aligned oracle needs
# positions; the bag-of-keys oracles take the DISTINCT projection)
_AUDIO_KEYED_CTES = _AUDIO_NEARDUP_CTES + """, dkw AS MATERIALIZED (
      SELECT doc_id, window_idx, perm || ':' || zc AS fkey FROM (
        SELECT doc_id, window_idx, zc,
               string_agg(CAST(band AS VARCHAR), ''
                          ORDER BY d DESC, band) AS perm
        FROM (
          SELECT doc_id, window_idx, zc, b.b AS band,
                 CASE b.b WHEN 0 THEN d0 WHEN 1 THEN d1 WHEN 2 THEN d2
                          WHEN 3 THEN d3 WHEN 4 THEN d4 ELSE d5 END AS d
          FROM feat, (SELECT unnest(range(0, 6)) AS b) b
        ) GROUP BY doc_id, window_idx, zc
      )
    )"""

_AUDIO_NEARDUP_CTES = _AUDIO_KEYED_CTES + """, dk AS MATERIALIZED (
      SELECT DISTINCT doc_id, fkey FROM dkw
    ), keep AS MATERIALIZED (
      SELECT fkey FROM dk GROUP BY fkey HAVING count(*) <= 3
    )"""


def _audio_neardup_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared audio near-dup fixture (1/7 slice ``doc_id %% 7 = 6``,
    families of 3): per family an md5-mixed PCM16 reel of 8
    256-sample windows — each sample a pure integer function of
    (family, content-window, position) with content window 1 SILENT
    (the planted ubiquitous key). v0 = content windows 0..7,
    v1 = the SAME reel at double volume (a re-encode — every
    fingerprint key invariant), v2 = content windows 3..10 (a
    window-aligned trim+extension — shares 5 real windows, no
    silence). WAV is lossless PCM, so the decoded samples ARE the
    md5 arithmetic and the oracle regenerates them in SQL with no
    codec."""
    import hashlib
    import io as _io
    import wave as _wave

    import numpy as np

    d = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id")
        .filter(F.expr("doc_id % 7 = 6"))
        # Family-keyed fan-out instead of the round-robin cpu_fan_out:
        # sibling variants share their md5 windows (v0/v1 identical raw
        # reels, v2 overlaps 5 of 8), so co-locating a family in one
        # task lets the per-task window cache below compute each
        # (fam, c) window once instead of 2-3x. Deterministic key
        # (did div 21 == fam by construction — guide §2.5 prefers
        # deterministic synthetic keys over round-robin), ~72x more
        # distinct families than partitions so the hash spreads evenly.
        .repartition(
            spark.sparkContext.defaultParallelism, F.expr("doc_id div 21")
        )
    )

    # Per-TASK memo of raw md5 windows, keyed (fam, c): the closure
    # (dict included, empty at build) is pickled per task, so each
    # task warms its own copy and nothing persists across runs —
    # guide §4.5 heavy-state-per-task, not a cross-run result cache.
    _win_cache: dict[tuple[int, int], list[int]] = {}

    def _raw_window(fam: int, c: int) -> list[int]:
        w = _win_cache.get((fam, c))
        if w is None:
            w = [
                (
                    int(
                        hashlib.md5(f"{fam}:{c}:{i}".encode()).hexdigest()[
                            :4
                        ],
                        16,
                    )
                    % 16384
                )
                - 8192
                for i in range(256)
            ]
            _win_cache[(fam, c)] = w
        return w

    def make_payload(did: int) -> bytes:
        k0 = did // 7
        fam, variant = k0 // 3, k0 % 3
        cs = range(3, 11) if variant == 2 else range(0, 8)
        out: list[int] = []
        for c in cs:
            if c == 1:
                out.extend([0] * 256)
                continue
            w = _raw_window(fam, c)
            out.extend((v * 2 for v in w) if variant == 1 else w)
        buf = _io.BytesIO()
        with _wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(np.array(out, dtype="<i2").tobytes())
        return buf.getvalue()

    # fan_out=False: the spine is already fanned out ABOVE — by family
    # key, so the per-task window cache hits (the heuristic's
    # round-robin would scatter siblings and undo it); the reel's
    # per-doc synth CPU (1792 md5 mixes serial) is why the spread
    # exists at all — see _mm_payload_table's measured win/loss table
    return _mm_payload_table(d, make_payload, fan_out=False)


@query(
    "m_audio_neardup",
    _AUDIO_NEARDUP_CTES
    + """
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM dk a JOIN dk b ON a.fkey = b.fkey AND a.doc_id < b.doc_id
    JOIN keep k ON k.fkey = a.fkey
    GROUP BY 1, 2 HAVING count(*) >= 5
    """,
)
def m_audio_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO near-dup via per-window perceptual fingerprints
    (multimodal.audio_fingerprint → audio_neardup_pairs) — the last
    modality's end-to-end chain, composed exactly like images/video:
    integer-exact fingerprint (rank permutation of the octave-lag
    difference-energy filterbank + exact zero-crossing count, both
    volume-invariant) over the REAL PCM16 decode, the window key as
    the blocking key, the ubiquitous-key cap (max_key_audios=3 drops
    the planted silence window shared by every v0/v1 — a silence key
    would square its join bucket AND shift v0-v1 n_shared 7→8, so
    the cap is value-load-bearing in the oracle), and a shared ≥ 5
    distinct-key confirm. Fixture plants volume re-encodes (v1, all
    8 keys shared) and window-aligned trims (v2, 5 real keys
    shared); the oracle regenerates every sample arithmetically
    (md5-mixed PCM — no codec) and recomputes fingerprints, cap and
    join in SQL. Plan: distinct (audio, key) exchange + per-key
    self-join above one repartition (ReusedExchange) — never
    all-pairs of audios."""
    mm = _audio_neardup_fixture(spark, sf_dir)
    return M.audio_neardup_pairs(
        M.audio_fingerprint(mm, window=256),
        min_shared=5,
        max_key_audios=3,
    )


@query(
    "m_audio_neardup_aligned",
    _AUDIO_KEYED_CTES
    + """, keepa AS MATERIALIZED (
      SELECT fkey FROM (SELECT DISTINCT doc_id, fkey FROM dkw)
      GROUP BY fkey HAVING count(*) <= 3
    ), mt AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.fkey AS fkey,
             a.window_idx AS idx_a, b.window_idx AS idx_b,
             b.window_idx - a.window_idx AS delta
      FROM dkw a
      JOIN dkw b ON a.fkey = b.fkey AND a.doc_id < b.doc_id
      JOIN keepa k ON k.fkey = a.fkey
    ), isl AS MATERIALIZED (
      SELECT id_a, id_b, delta, fkey,
             idx_a - row_number() OVER (PARTITION BY id_a, id_b, delta
                                        ORDER BY idx_a) AS g
      FROM mt
    ), runs AS MATERIALIZED (
      SELECT id_a, id_b, delta, g, count(*) AS run
      FROM isl GROUP BY 1, 2, 3, 4
    ), rmax AS MATERIALIZED (
      SELECT id_a, id_b, max(run) AS longest_run
      FROM runs GROUP BY 1, 2
    ), ns AS MATERIALIZED (
      SELECT id_a, id_b, count(DISTINCT fkey) AS n_shared
      FROM mt GROUP BY 1, 2
    )
    SELECT ns.id_a, ns.id_b, CAST(ns.n_shared AS BIGINT) AS n_shared,
           CAST(rmax.longest_run AS BIGINT) AS longest_run
    FROM ns JOIN rmax ON ns.id_a = rmax.id_a AND ns.id_b = rmax.id_b
    WHERE ns.n_shared >= 5
    """,
)
def m_audio_neardup_aligned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPORALLY-ALIGNED audio near-dup
    (multimodal.audio_neardup_aligned — delegates to the
    video_neardup_aligned island algebra with the window index as
    the frame index): shared window keys at one index delta on
    consecutive source windows form an aligned run. On the shared
    audio fixture the separation is planted in TIME: v0-v1 (the
    double-volume re-encode) matches every non-capped window at
    delta 0 but the capped silence window SPLITS the run (islands
    {0} and {2..7} → longest 6 of 7 shared), while v0-v2 and v1-v2
    (the window-aligned trim) run all 5 shared windows contiguously
    at delta -3 — a run-length ranking no bag-of-keys count
    produces (7 shared ranks ABOVE 5 shared, but 6-run vs 5-run
    tells the re-encode from the trim). The oracle reuses the audio
    CTE prefix with window positions retained and reruns the
    cap/join/island/run algebra in SQL windows. Plan: same blocking
    exchange as m_audio_neardup; islands window + aggregates
    candidate-match-bounded, all partitioned."""
    mm = _audio_neardup_fixture(spark, sf_dir)
    return M.audio_neardup_aligned(
        M.audio_fingerprint(mm, window=256),
        min_shared=5,
        max_key_audios=3,
    )


@query(
    "m_audio_neardup_probe",
    _AUDIO_NEARDUP_CTES
    + """
    SELECT a.doc_id AS id_new, b.doc_id AS id_indexed,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM dk a
    JOIN params pa ON pa.doc_id = a.doc_id AND pa.variant = 0
    JOIN dk b ON b.fkey = a.fkey
    JOIN params pb ON pb.doc_id = b.doc_id AND pb.variant != 0
    JOIN keep k ON k.fkey = a.fkey
    GROUP BY 1, 2 HAVING count(*) >= 5
    """,
)
def m_audio_neardup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL audio near-dup against the PERSISTED fingerprint
    index (multimodal.write_audio_fp_index →
    audio_neardup_against_index): the audio history (v1/v2 variants)
    is fingerprinted ONCE onto disk (md5-bucketed (kb, fkey, doc_id)
    postings + a stats row carrying buckets/window/lags); the new
    batch (v0) decodes and fingerprints only itself, with the
    INDEX's OWN parameters (the bm25_probe_indexed rule), and
    equi-joins the index on (kb, fkey). The ubiquitous-key cap is
    computed over the UNION exactly as the batch pipeline would
    (indexed audios per key from the candidate rows + batch audios
    per key), so the silence key every v0/v1 shares is dropped and
    v0-v1 n_shared stays 7 — probe == batch-over-union restricted to
    cross pairs, the incremental-equals-batch discipline. The oracle
    regenerates all samples arithmetically and restricts the same
    capped join to (v0 × {v1, v2}). Scratch index keyed by fixture +
    pid (no concurrent-run races)."""
    import os
    import tempfile

    mm = _audio_neardup_fixture(spark, sf_dir).localCheckpoint(
        eager=False
    )  # 2 consumers: history fingerprint + probe batch
    variant = F.expr("(doc_id div 7) % 3")
    hist = mm.filter(variant != 0)
    batch = mm.filter(variant == 0)
    path = os.path.join(
        tempfile.gettempdir(),
        "mongodb_etl_migration_spark_audiofpidx_"
        f"{os.path.basename(os.path.normpath(sf_dir))}_{os.getpid()}",
    )
    M.write_audio_fp_index(
        M.audio_fingerprint(hist, window=256), path, window=256
    )
    return M.audio_neardup_against_index(
        batch, path, min_shared=5, max_key_audios=3
    )


def _mp4_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared MP4 fixture: per doc (1/9 slice) a minimal valid ISO
    BMFF file (operators/mp4.build_mp4) with doc_id%5+2 ASCII video
    samples 'frame-<doc>-<k>' packed two-per-chunk — ASCII so the
    DuckDB oracle can recompute the sample digests, two-per-chunk so
    read-back exercises the stsc run-length rule."""
    from mongodb_etl_migration_spark.operators import mp4 as V4

    d = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id")
        .filter(F.expr("doc_id % 9 = 0"))
    )

    def make_payload(did: int) -> bytes:
        samples = [
            f"frame-{did}-{k}".encode() for k in range(did % 5 + 2)
        ]
        return V4.build_mp4(
            samples,
            width=(did % 3 + 1) * 32,
            height=(did % 2 + 1) * 24,
            fps=30,
        )

    return _mm_payload_table(d, make_payload)


@query(
    "m_mp4_metadata",
    """
    SELECT doc_id,
           CAST((doc_id % 3 + 1) * 32 AS BIGINT) AS width,
           CAST((doc_id % 2 + 1) * 24 AS BIGINT) AS height,
           CAST(doc_id % 5 + 2 AS BIGINT) AS n_frames
    FROM documents WHERE doc_id % 9 = 0
    """,
)
def m_mp4_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL ISO BMFF (MP4) container metadata (operators/mp4): per
    doc, build a valid single-video-track MP4 — ftyp/mdat/moov with
    versioned boxes and a correct stbl — then recover dims and frame
    count through the box walk (tkhd 16.16 dims, stsz sample count).
    The oracle predicts every field analytically from the fixture
    parameters, so a hash match proves the container was actually
    parsed, not echoed. Arrow-batched mapInPandas like every codec."""
    mm = _mp4_fixture(spark, sf_dir)
    return M.decode_media(mm).select(
        "doc_id", "width", "height", "n_frames"
    )


@query(
    "m_mp4_frames",
    """
    WITH g AS (
      SELECT doc_id, doc_id % 5 + 2 AS n,
             doc_id % 3 + 1 AS wb, doc_id % 2 + 1 AS hb
      FROM documents WHERE doc_id % 9 = 0
    ), s AS (
      SELECT doc_id, wb, hb, k.k AS frame_idx
      FROM g, (SELECT unnest(range(0, 6)) AS k) k
      WHERE k.k < n AND k.k % 2 = 0
    ), b AS (
      SELECT doc_id, wb, hb, frame_idx, bx.x AS bx, by.y AS by
      FROM s,
           (SELECT unnest(range(0, 3)) AS x) bx,
           (SELECT unnest(range(0, 2)) AS y) by
      WHERE bx.x < wb AND by.y < hb
    ), v AS (
      SELECT doc_id, frame_idx,
             64 + 8 * ((bx + 3 * by + doc_id + frame_idx) % 17) AS val
      FROM b
    )
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           CAST(sum(val) AS DOUBLE) / count(*) AS frame_mean
    FROM v GROUP BY doc_id, frame_idx
    """,
)
def m_mp4_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL in-MP4 frame DECODE — the MJPEG path that needs no
    ffmpeg: per doc, encode per-frame flat-block grayscale images
    (values 64 + 8k, the Annex-K quantization-roundtrip family the
    baseline-JPEG oracle proves exact) with the repo's own JPEG
    entropy coder, pack them as a codec-'jpeg' video track
    (build_mp4 — two samples per chunk so stsc arithmetic is
    exercised), then sample every 2nd frame: the stsc/stco/stsz walk
    extracts each sample's exact bytes from mdat and parse_jpeg
    DECODES them (headers, Huffman, DC prediction, IDCT). The oracle
    predicts each decoded frame's pixel MEAN analytically from the
    fixture parameters — a wrong byte range, a mis-parsed container,
    or a decode slip all break the hash. H.264-family tracks remain
    digest-and-route (codec library required — env-blocked), now the
    ONLY non-decoding video path."""
    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import encode_jpeg
    from mongodb_etl_migration_spark.operators import mp4 as V4

    d = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id")
        .filter(F.expr("doc_id % 9 = 0"))
    )

    def make_payload(did: int) -> bytes:
        wb, hb = did % 3 + 1, did % 2 + 1
        samples = []
        for k in range(did % 5 + 2):
            px = np.zeros((hb * 8, wb * 8, 3), dtype=np.uint8)
            for by in range(hb):
                for bx in range(wb):
                    v = 64 + 8 * ((bx + 3 * by + did + k) % 17)
                    px[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8, :] = v
            samples.append(encode_jpeg(px))
        return V4.build_mp4(
            samples, width=wb * 8, height=hb * 8, fps=30, codec=b"jpeg"
        )

    mm = _mm_payload_table(d, make_payload)
    return M.sample_frames(mm, every_n=2).select(
        "doc_id", "frame_idx", "frame_mean"
    )


@query(
    "w_html_extract",
    """
    WITH page AS (
      SELECT doc_id,
             '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
             || '</title><style>p { color: red; }</style>'
             || '<script>var hidden = "<b>not text</b>";</script></head>'
             || '<body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1>'
             || '<!-- crawler boilerplate -->'
             || '<p>' || text || ' &amp; more &lt;tags&gt;</p>'
             || CASE WHEN doc_id % 3 = 0
                     THEN '<div class="nav">home&nbsp;|&nbsp;about</div>'
                     ELSE '' END
             || CASE WHEN doc_id % 4 = 0
                     THEN '<p>&#64;handle &#x41;-grade &#999; &#x1f;'
                          || ' &amp;#65; stays &#38;lt;kept&#x26;gt;</p>'
                     ELSE '' END
             || '</body></html>' AS html
      FROM documents
    ), stripped AS (
      SELECT doc_id,
        replace(
          regexp_replace(regexp_replace(regexp_replace(regexp_replace(
            html,
            '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
            '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
            '(?s)<!--.*?-->', ' ', 'g'),
            '(?s)<[^>]+>', ' ', 'g'),
          chr(1), ' ') AS t0
      FROM page
    ), dec1 AS (
      SELECT doc_id,
        array_to_string(list_transform(
          string_split(regexp_replace(t0, '&#([0-9]{2,3});',
                                      chr(1) || '\\1' || chr(1), 'g'),
                       chr(1)),
          (x, i) -> CASE WHEN i % 2 = 0 THEN
              CASE WHEN TRY_CAST(x AS BIGINT) = 38 THEN '&amp;'
                   WHEN TRY_CAST(x AS BIGINT) BETWEEN 32 AND 126
                   THEN chr(CAST(x AS INTEGER))
                   ELSE '&#' || x || ';' END
            ELSE x END), '') AS t1
      FROM stripped
    ), dec2 AS (
      SELECT doc_id,
        array_to_string(list_transform(
          string_split(regexp_replace(t1, '&#[xX]([0-9a-fA-F]{2});',
                                      chr(1) || '\\1' || chr(1), 'g'),
                       chr(1)),
          (x, i) -> CASE WHEN i % 2 = 0 THEN
              CASE WHEN TRY_CAST('0x' || x AS BIGINT) = 38 THEN '&amp;'
                   WHEN TRY_CAST('0x' || x AS BIGINT) BETWEEN 32 AND 126
                   THEN chr(CAST('0x' || x AS INTEGER))
                   ELSE '&#x' || x || ';' END
            ELSE x END), '') AS t2
      FROM dec1
    )
    SELECT doc_id,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               t2,
               '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&'),
             '\\s+', ' ', 'g')) AS extracted
    FROM dec2
    """,
)
def w_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction (web.html_to_text): per doc, build a
    full HTML page around the document text — head/title, style and
    script blocks (script body contains TAGS that must vanish with
    it), comments, entities, a nav div on every third doc — and strip
    it back to clean text. Exact string output, hash-verified: the
    oracle runs the same RE2-compatible regex chain verbatim. Pure
    codegen'd Columns, zero shuffle — the step between the crawl and
    every text-curation filter in this catalog."""
    d = Catalog(spark, sf_dir).documents
    did = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><head><title>Doc "), did,
        F.lit('</title><style>p { color: red; }</style>'),
        F.lit('<script>var hidden = "<b>not text</b>";</script></head>'),
        F.lit("<body><h1>Doc "), did, F.lit("</h1>"),
        F.lit("<!-- crawler boilerplate -->"),
        F.lit("<p>"), F.col("text"), F.lit(" &amp; more &lt;tags&gt;</p>"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.lit('<div class="nav">home&nbsp;|&nbsp;about</div>'),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.lit(
                "<p>&#64;handle &#x41;-grade &#999; &#x1f;"
                " &amp;#65; stays &#38;lt;kept&#x26;gt;</p>"
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    return d.select(
        "doc_id", WB.html_to_text(html).alias("extracted")
    )


@query(
    "w_warc_extract",
    """
    SELECT doc_id,
           CAST(r AS BIGINT) AS record_idx,
           CASE WHEN r = 0 THEN 'warcinfo' ELSE 'response' END AS warc_type,
           CASE WHEN r = 0 THEN ''
                ELSE 'https://www.' || source || '.example.com/w/'
                     || CAST(doc_id * 10 + r AS VARCHAR) END AS target_uri,
           CASE WHEN r = 0 THEN NULL
                WHEN r % 4 = 3 THEN 404 ELSE 200 END AS http_status,
           CASE WHEN r = 0 THEN NULL ELSE 'text/html' END AS content_type,
           CASE WHEN r = 0 THEN 'crawler=spark-graft'
                ELSE '<p>Body ' || CAST(doc_id AS VARCHAR) || '-'
                     || CAST(r AS VARCHAR) || '</p>' END AS body
    FROM documents, unnest(range(0, doc_id % 3 + 2)) AS t(r)
    WHERE doc_id % 5 = 0
    """,
)
def w_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC crawl-shard ingest (sources/warc.explode_warc): per doc,
    serialize a WARC/1.0 stream — one warcinfo record plus 1-3 HTTP
    response records (every 4th a 404) — then parse it back through
    the dependency-free record walker: framing by Content-Length, CRLF
    header blocks, HTTP layer unwrapped per response. The oracle
    predicts every field analytically, so a hash match proves real
    WARC framing and HTTP parsing ran. 1→N Arrow-batched explode, the
    same plumbing shape as video frame sampling; 1/5 doc slice."""
    import pandas as pd

    from mongodb_etl_migration_spark.sources import warc as WR
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    d = (
        Catalog(spark, sf_dir)
        .documents.select("doc_id", "source")
        .filter(F.expr("doc_id % 5 = 0"))
    )

    def synth(batches):
        for pdf in batches:
            payloads = []
            for doc_id, source in zip(pdf["doc_id"], pdf["source"]):
                did = int(doc_id)
                recs = [
                    {
                        "warc_type": "warcinfo",
                        "target_uri": "",
                        "payload": b"crawler=spark-graft",
                    }
                ]
                for r in range(1, did % 3 + 2):
                    url = f"https://www.{source}.example.com/w/{did * 10 + r}"
                    status = 404 if r % 4 == 3 else 200
                    body = f"<p>Body {did}-{r}</p>".encode()
                    recs.append(
                        {
                            "warc_type": "response",
                            "target_uri": url,
                            "http": (status, "text/html", body),
                        }
                    )
                payloads.append(WR.build_warc(recs))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
        ]
    )
    shards = d.mapInPandas(synth, schema)
    return WR.explode_warc(shards)


def _warc_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic on-disk WARC shards from the documents slice
    (doc_id % 5 == 0): 8 files keyed by doc_id % 8 — even shards plain
    .warc, odd shards per-record-gzip .warc.gz (the Common Crawl
    layout), so one read exercises both stream paths. Each shard: one
    warcinfo record, then HTTP responses in (doc_id, r) order.

    The collect is FIXTURE CONSTRUCTION, not the operator under test —
    O(slice) two-column rows (~1k at sf0.1), built on the driver
    because the product being verified is the file-based reader, which
    needs real files. Files are rewritten only when bytes differ
    (atomic os.replace), under the repo's gitignored .warc_fixtures/;
    content is a pure function of the slice, so concurrent builders
    converge."""
    import os

    from mongodb_etl_migration_spark.sources import warc as WR

    d = Catalog(spark, sf_dir).documents
    rows = (
        d.filter(F.expr("doc_id % 5 = 0"))
        .select("doc_id", "source")
        .orderBy("doc_id")
        .collect()
    )
    shards: dict[int, list[dict]] = {}
    for row in rows:
        did = int(row["doc_id"])
        sh = did % 8
        if sh not in shards:
            shards[sh] = [
                {
                    "warc_type": "warcinfo",
                    "payload": f"crawler=spark-graft shard={sh}".encode(),
                }
            ]
        for r in range(1, did % 3 + 2):
            shards[sh].append(
                {
                    "warc_type": "response",
                    "target_uri": (
                        f"https://www.{row['source']}.example.com"
                        f"/w/{did * 10 + r}"
                    ),
                    "http": (
                        404 if r % 4 == 3 else 200,
                        "text/html",
                        f"<p>Body {did}-{r}</p>".encode(),
                    ),
                }
            )
    base = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".warc_fixtures",
        os.path.basename(sf_dir.rstrip("/")),
    )
    os.makedirs(base, exist_ok=True)
    for sh, recs in shards.items():
        if sh % 2:
            name, data = f"shard-{sh}.warc.gz", WR.build_warc_gz(recs)
        else:
            name, data = f"shard-{sh}.warc", WR.build_warc(recs)
        path = os.path.join(base, name)
        try:
            if os.path.getsize(path) == len(data):
                with open(path, "rb") as f:
                    if f.read() == data:
                        continue
        except OSError:
            pass
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
    return base


@query(
    "w_warc_source",
    """
    WITH docs AS (
      SELECT doc_id, source, doc_id % 8 AS shard
      FROM documents WHERE doc_id % 5 = 0
    ), resp AS (
      SELECT shard, doc_id, source, r,
             row_number() OVER (PARTITION BY shard ORDER BY doc_id, r) AS rn
      FROM docs, unnest(range(1, doc_id % 3 + 2)) AS t(r)
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(0 AS BIGINT) AS record_idx,
           'warcinfo' AS warc_type,
           '' AS target_uri,
           CAST(NULL AS BIGINT) AS http_status,
           CAST(NULL AS VARCHAR) AS content_type,
           'crawler=spark-graft shard=' || CAST(shard AS VARCHAR) AS body
    FROM (SELECT DISTINCT shard FROM docs)
    UNION ALL
    SELECT CAST(shard AS BIGINT),
           CAST(rn AS BIGINT),
           'response',
           'https://www.' || source || '.example.com/w/'
             || CAST(doc_id * 10 + r AS VARCHAR),
           CASE WHEN r % 4 = 3 THEN 404 ELSE 200 END,
           'text/html',
           '<p>Body ' || CAST(doc_id AS VARCHAR) || '-'
             || CAST(r AS VARCHAR) || '</p>'
    FROM resp
    """,
)
def w_warc_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-based crawl ingest (sources/warc_source, format("warc")):
    real .warc and per-record-gzip .warc.gz shard FILES on disk —
    built deterministically from the documents slice — read through
    the Python DataSource: one InputPartition per shard, records
    streaming out of the (gzip) file one at a time inside the scan
    stage, HTTP layer unwrapped per response. The oracle predicts
    every field analytically from the same slice, so a hash match
    proves the gzip-member layer, incremental WARC framing, and HTTP
    parsing all ran — the capability the in-row explode_warc column
    operator cannot provide at shard scale (a 1 GB shard would have
    to fit one row there; here it never materializes)."""
    from mongodb_etl_migration_spark.sources.warc_source import register_warc

    path = _warc_fixture_dir(spark, sf_dir)
    register_warc(spark)
    df = spark.read.format("warc").load(path)
    return df.select(
        F.regexp_extract("path", "shard-([0-9]+)\\.warc", 1)
        .cast("bigint")
        .alias("shard"),
        "record_idx",
        "warc_type",
        "target_uri",
        "http_status",
        "content_type",
        "body",
    )


def _psl_host_col() -> F.Column:
    """Deterministic host fixture exercising ALL THREE PSL rule
    classes: multi-label plain suffixes (.co.uk/.com.au and the
    3-label .nsw.edu.au) where the 2-label heuristic mis-groups,
    plain TLDs where it's exact, hosts that ARE a public suffix (no
    registrable domain) — plain (co.uk), wildcard-made (<src>.ck,
    <src>.kawasaki.jp) — wildcard-ruled registrables one label deeper
    (www.<src>.ck, shop.<src>.kawasaki.jp), and exception-rule hosts
    (www.ck, sub.www.ck, x.city.kawasaki.jp) whose registrable IS the
    exception. Built IDENTICALLY in the SQL oracle."""
    d = F.col("doc_id")
    src = F.lower("source")
    sfx = (
        F.when(d % 5 == 0, F.lit(".co.uk"))
        .when(d % 5 == 1, F.lit(".com.au"))
        .when(d % 5 == 2, F.lit(".nsw.edu.au"))
        .when(d % 5 == 3, F.lit(".com"))
        .otherwise(F.lit(".org"))
    )
    return (
        F.when(d % 13 == 0, F.lit("co.uk"))
        .when(d % 13 == 1, F.concat(F.lit("www."), src, F.lit(".ck")))
        .when(d % 13 == 2, F.concat(src, F.lit(".ck")))
        .when(d % 13 == 3, F.lit("www.ck"))
        .when(d % 13 == 4, F.lit("sub.www.ck"))
        .when(d % 13 == 5, F.concat(src, F.lit(".kawasaki.jp")))
        .when(
            d % 13 == 6,
            F.concat(F.lit("shop."), src, F.lit(".kawasaki.jp")),
        )
        .when(d % 13 == 7, F.lit("x.city.kawasaki.jp"))
        .otherwise(F.concat(F.lit("www."), src, sfx))
    )


_PSL_HOST_SQL = """
      CASE WHEN doc_id % 13 = 0 THEN 'co.uk'
           WHEN doc_id % 13 = 1 THEN 'www.' || lower(source) || '.ck'
           WHEN doc_id % 13 = 2 THEN lower(source) || '.ck'
           WHEN doc_id % 13 = 3 THEN 'www.ck'
           WHEN doc_id % 13 = 4 THEN 'sub.www.ck'
           WHEN doc_id % 13 = 5 THEN lower(source) || '.kawasaki.jp'
           WHEN doc_id % 13 = 6
             THEN 'shop.' || lower(source) || '.kawasaki.jp'
           WHEN doc_id % 13 = 7 THEN 'x.city.kawasaki.jp'
           ELSE 'www.' || lower(source) ||
             CASE doc_id % 5 WHEN 0 THEN '.co.uk' WHEN 1 THEN '.com.au'
                  WHEN 2 THEN '.nsw.edu.au' WHEN 3 THEN '.com'
                  ELSE '.org' END
      END
"""


def _psl_oracle_parts() -> tuple[str, str]:
    """Generate the oracle's PSL CTE skeleton and precedence CASE
    from default_psl_rules() — label-count buckets DERIVED from the
    rule set exactly the way with_registered_domain derives its join
    classes, so the FULL vendored snapshot (5-label amazonaws
    endpoints, 4-label wildcard bases, punycode twins) flows into the
    SQL without hand-maintained buckets. Mirrors the operator's
    precedence: exceptions longest-first, then public-suffix length
    descending with wildcard (base b -> suffix b+1) before plain of
    the same suffix length; every branch carries the operator's
    min-host-labels guard (a host equal to a wildcard BASE is not
    matched — '*' must consume a label)."""
    rules = WB.default_psl_rules()
    labs = lambda v: v.count(".") + 1  # noqa: E731
    plain = sorted({s for s in rules["plain"] if labs(s) >= 2})
    wild = sorted(set(rules["wildcard"]))
    exc = sorted(set(rules["exception"]))
    exc_lens = sorted({labs(v) for v in exc}, reverse=True)
    suffix_lens = sorted(
        {labs(v) + 1 for v in wild} | {labs(v) for v in plain},
        reverse=True,
    )
    # (flag/name, values, join-key labels, registrable labels, min n)
    classes: list[tuple[str, list[str], int, int, int]] = []
    for dl in exc_lens:
        vals = [v for v in exc if labs(v) == dl]
        if vals:
            classes.append((f"exc{dl}", vals, dl, dl, dl))
    for sl in suffix_lens:
        wv = [v for v in wild if labs(v) == sl - 1]
        if wv:
            classes.append((f"wild{sl - 1}", wv, sl - 1, sl + 1, sl))
        pv = [v for v in plain if labs(v) == sl]
        if pv:
            classes.append((f"suf{sl}", pv, sl, sl + 1, sl))
    ks = sorted(
        {2}
        | {k for _, _, k, _, _ in classes}
        | {r for _, _, _, r, _ in classes}
    )
    lcols = ",\n        ".join(
        f"l[n] AS l{k}"
        if k == 1
        else (
            f"CASE WHEN n >= {k} THEN "
            f"array_to_string(list_slice(l, n-{k - 1}, n), '.') END AS l{k}"
        )
        for k in ks
    )
    flags = ", ".join(f"{n}_t.{n}" for n, _, _, _, _ in classes)
    joins = "\n".join(
        f"      LEFT JOIN (SELECT unnest([{', '.join(chr(39) + v + chr(39) for v in vals)}]) AS {name}) {name}_t"
        f" ON c.l{k} = {name}_t.{name}"
        for name, vals, k, _, _ in classes
    )
    domain_sql = f"""
    WITH h AS (
      SELECT doc_id, {_PSL_HOST_SQL} AS host FROM documents
    ), lab AS (
      SELECT doc_id, host, string_split(host, '.') AS l,
             len(string_split(host, '.')) AS n
      FROM h
    ), c AS (
      SELECT doc_id, host, n,
        {lcols}
      FROM lab
    ), j AS (
      SELECT c.*, {flags}
      FROM c
{joins}
    )
"""
    reg_sql = (
        "CASE "
        + " ".join(
            f"WHEN {name} IS NOT NULL AND n >= {mn} THEN l{r}"
            for name, _, _, r, mn in classes
        )
        + " ELSE l2 END"
    )
    return domain_sql, reg_sql


_PSL_DOMAIN_SQL_GEN, _PSL_REG_SQL = _psl_oracle_parts()

_CLS_W_SQL = ", ".join(
    f"('{t}', {w})" for t, w in sorted(T.QUALITY_CLASSIFIER_WEIGHTS.items())
)


def _psl_domain_sql() -> str:
    return _PSL_DOMAIN_SQL_GEN


@query(
    "w_domain_psl",
    _psl_domain_sql()
    + """
    SELECT doc_id, host,
      nullif(regexp_extract(host, '([^.]+\\.[^.]+)$', 1), '') AS heuristic,
      """ + _PSL_REG_SQL + """ AS registered_domain
    FROM j
    """,
)
def w_domain_psl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSL-backed eTLD+1 (web.with_registered_domain) vs the 2-label
    heuristic, side by side — now over ALL THREE publicsuffix.org rule
    classes: plain (b.co.uk groups as <org>.co.uk where the heuristic
    collapses every .co.uk org into one group — the skew that breaks
    per-domain caps), wildcard (`*.ck`: <src>.ck IS a public suffix →
    NULL, www.<src>.ck registers one label deeper; same for the
    2-label base `*.kawasaki.jp`), and exception (`!www.ck`,
    `!city.kawasaki.jp`: the registrable IS the exception rule, even
    for hosts under it like sub.www.ck). One tiny BroadcastHashJoin
    per (class, label-count) pair, zero shuffle — the full 9k-entry
    PSL file parses into the same shape (web.parse_psl)."""
    d = Catalog(spark, sf_dir).documents
    hosts = d.select("doc_id", _psl_host_col().alias("host"))
    out = WB.with_registered_domain(hosts, "host")
    return out.select(
        "doc_id",
        "host",
        WB.domain_of(F.col("host")).alias("heuristic"),
        "registered_domain",
    )


def milli_floor(sum_col: str, n_col: str) -> F.Column:
    """floor(1000 * sum / n) as an UNCONDITIONALLY integer-exact
    Column (n > 0): the sum widens to decimal(25,0) before the x1000
    (no bigint overflow at any bigint sum), and subtracting the
    POSITIVE modulus (pmod) first makes the numerator exactly
    divisible by n, so truncating `div` equals mathematical floor on
    every sign — no 2^53 double window, no truncate-toward-zero trap
    on negative sums. Shared by w_quality_feedback and its unit
    tests so the tested expression IS the shipped one."""
    q = f"(CAST({sum_col} AS DECIMAL(25,0)) * 1000)"
    n = f"CAST({n_col} AS DECIMAL(25,0))"
    return F.expr(f"({q} - pmod({q}, {n})) div {n}").cast("bigint")


@query(
    "w_quality_feedback",
    _psl_domain_sql()
    + f"""
    , w(term, weight) AS (VALUES {_CLS_W_SQL}),
    tk AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ), m AS (
      SELECT tk.doc_id, sum(w.weight) AS sw
      FROM tk JOIN w USING (term) GROUP BY tk.doc_id
    ), r AS (
      SELECT j.doc_id, """ + _PSL_REG_SQL + """ AS registered_domain
      FROM j
    ), x AS (
      SELECT r.registered_domain, coalesce(m.sw, 0) AS margin
      FROM r LEFT JOIN m USING (doc_id)
      WHERE r.registered_domain IS NOT NULL
    ), g0 AS (
      SELECT registered_domain,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(margin) AS BIGINT) AS margin_sum,
             CAST(sum(CASE WHEN margin > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep,
             CAST(sum(margin) AS HUGEINT) * 1000 AS q
      FROM x GROUP BY registered_domain
    ), g AS (
      SELECT registered_domain, n_docs, margin_sum, n_keep,
             -- unconditional integer floor(q / n): subtract the
             -- POSITIVE modulus first so the division is exact and
             -- truncate-vs-floor semantics cannot differ
             CAST((q - ((q % n_docs) + n_docs) % n_docs) // n_docs
               AS BIGINT) AS avg_margin_milli
      FROM g0
    )
    SELECT registered_domain, n_docs, margin_sum, n_keep,
           avg_margin_milli,
           CASE WHEN avg_margin_milli >= 500 THEN 'boost'
                WHEN avg_margin_milli >= 0 THEN 'normal'
                ELSE 'demote' END AS crawl_tier
    FROM g
    """,
)
def w_quality_feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-feedback crawl prioritization — the loop that closes a
    crawl: per-document classifier margins (the model-based curation
    gate) roll up to their PSL registered domain, and each domain
    gets a crawl tier (boost / normal / demote) from its
    milli-average margin — low-quality domains stop earning fetch
    budget, high-yield domains get more (the scheduler consumes the
    tier exactly like its stalest-first key). Plan: margins fold
    inline per doc (zero-shuffle map-literal classifier), PSL joins
    broadcast, and the ONLY exchange is the per-domain aggregate
    (map-side combinable integer sums); the milli-average is
    floor(1000·Σmargin/n) computed UNCONDITIONALLY integer-exactly:
    Σmargin widens to decimal(25,0) (HUGEINT in the oracle) before
    the ×1000, and the floor uses the pmod identity
    floor(q/n) = (q − pmod(q, n)) div n — the adjusted numerator is
    exactly divisible by n, so truncating (`div`) and flooring
    division agree on every engine and sign, with no 2^53 double
    window at any Σmargin a bigint can hold. Output bounded by
    #domains."""
    d = Catalog(spark, sf_dir).documents
    base = d.select(
        "doc_id",
        _psl_host_col().alias("host"),
        T.classifier_margin_inline("text").alias("__margin"),
    )
    dom = WB.with_registered_domain(base, "host")
    g = (
        dom.filter(F.col("registered_domain").isNotNull())
        .groupBy("registered_domain")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("__margin").cast("bigint").alias("margin_sum"),
            F.sum(F.when(F.col("__margin") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_keep"),
        )
        .withColumn(
            "avg_margin_milli", milli_floor("margin_sum", "n_docs")
        )
    )
    return g.select(
        "registered_domain",
        "n_docs",
        "margin_sum",
        "n_keep",
        "avg_margin_milli",
        F.when(F.col("avg_margin_milli") >= 500, "boost")
        .when(F.col("avg_margin_milli") >= 0, "normal")
        .otherwise("demote")
        .alias("crawl_tier"),
    )


@query(
    "w_domain_caps",
    _psl_domain_sql()
    + f"""
    , r AS (
      SELECT doc_id,
        """ + _PSL_REG_SQL + f""" AS registered_domain
      FROM j
    ), ranked AS (
      SELECT doc_id, registered_domain,
             row_number() OVER (
               PARTITION BY registered_domain
               ORDER BY {_HASH60.format(salt="caps", key="doc_id")}, doc_id
             ) AS rk
      FROM r
    )
    SELECT doc_id, registered_domain FROM ranked WHERE rk <= 8
    """,
)
def w_domain_caps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain crawl caps — the standard curation step after URL
    dedup (Common-Crawl-style pipelines cap docs/domain so one site
    cannot dominate the corpus): PSL registered_domain as the stratum,
    stratified_take's hash-ordered quota keeps a deterministic ≤8 docs
    per domain. The PSL grouping is what makes the cap FAIR — under
    the 2-label heuristic every .co.uk org shares one cap. One shuffle
    on the domain; WindowGroupLimit trims each map task's top-8 before
    the exchange, so the exchange carries ~8 rows per domain per map
    task at any corpus size."""
    from mongodb_etl_migration_spark.operators import sampling as SM

    d = Catalog(spark, sf_dir).documents
    hosts = d.select("doc_id", _psl_host_col().alias("host"))
    dom = WB.with_registered_domain(hosts, "host")
    return SM.stratified_take(
        dom, ["registered_domain"], 8, "doc_id", salt="caps"
    ).select("doc_id", "registered_domain")


@query(
    "w_robots_filter",
    f"""
    WITH u AS (
      SELECT doc_id, {_MESSY_URL_SQL} AS url FROM documents
    ), p0 AS (
      SELECT doc_id, url,
        lower(nullif(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1), '')) AS scheme,
        lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1)) AS rawhost
      FROM u
    ), hosts AS (
      SELECT doc_id,
        nullif(CASE WHEN scheme = 'http' THEN regexp_replace(rawhost, ':80$', '')
                    WHEN scheme = 'https' THEN regexp_replace(rawhost, ':443$', '')
                    ELSE rawhost END, '') AS host,
        CASE WHEN regexp_replace(
               regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1),
               '/+$', '') = '' THEN '/'
             ELSE regexp_replace(
               regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)', 1),
               '/+$', '') END AS path
      FROM p0
    ), rules AS (
      SELECT 'www.' || lower(source) || '.example.com' AS host,
             r.allow, r.prefix,
             '^' || replace(regexp_replace(
                      regexp_replace(r.prefix, '\\$$', ''),
                      '([.^$|()\\[\\]{{}}+?\\\\])', '\\\\\\1', 'g'),
                    '*', '.*')
                 || CASE WHEN r.prefix LIKE '%$' THEN '$' ELSE '' END AS rx,
             length(replace(regexp_replace(r.prefix, '\\$$', ''), '*', ''))
               AS lit
      FROM (SELECT DISTINCT lower(source) AS source FROM documents),
           (VALUES (FALSE, '/Docs/'), (TRUE, '/Docs/4'),
                   (FALSE, '/private/'), (FALSE, '/Docs/4*7$'),
                   (TRUE, '/Docs/1$'), (FALSE, '/Docs/3*$'),
                   (TRUE, '/Docs/38')) r(allow, prefix)
    ), agg AS (
      SELECT host,
             list(struct_pack(allow := allow, prefix := prefix,
                              rx := rx, lit := lit)) AS rl
      FROM rules GROUP BY host
    ), j AS (
      SELECT h.doc_id, h.host, h.path,
        list_filter(
          COALESCE(a.rl, CAST([] AS STRUCT(
            allow BOOLEAN, prefix VARCHAR, rx VARCHAR, lit BIGINT)[])),
          r -> regexp_matches(h.path, r.rx)) AS matching
      FROM hosts h LEFT JOIN agg a ON h.host = a.host
    )
    SELECT doc_id, host, path,
      CASE WHEN len(matching) = 0 THEN TRUE
           ELSE len(list_filter(matching,
                  r -> r.lit = list_max(
                         list_transform(matching, r2 -> r2.lit))
                       AND r.allow)) > 0
      END AS crawl_allowed
    FROM j
    """,
)
def w_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt politeness gate (web.with_robots_verdict, RFC 9309
    §2.2.3 FULL pattern grammar): '*' wildcards, trailing-'$' end
    anchors, most-specific-match resolution (specificity = literal
    octets — exactly the classic prefix length for wildcard-free
    rules), Allow wins specificity ties, no match → allowed.
    Fixture rules per crawl host: Disallow /Docs/ with an Allow
    /Docs/4 carve-out (the pre-wildcard cases, unchanged); Disallow
    /Docs/4*7$ (a MORE specific wildcard overriding the allow on
    /Docs/47); Allow /Docs/1$ (anchor: exactly /Docs/1, while
    /Docs/10–19 stay disallowed); Disallow /Docs/3*$ vs Allow
    /Docs/38 (a lit-7 specificity TIE on /Docs/38 — Allow wins).
    Hosts carrying a non-default port (http://host:443) match no rule
    group and stay allowed, pinning host-exactness. Each pattern
    compiles to an anchored regex once on the KB-scale rules side
    (Java-regex/RE2-identical constructs only); rules aggregate and
    broadcast; resolution is all array higher-order functions — zero
    shuffle on the corpus side, mirrored with DuckDB list lambdas."""
    d = Catalog(spark, sf_dir).documents
    u = d.select("doc_id", _messy_url_col().alias("url"))
    hosts = u.select(
        "doc_id",
        WB.url_host("url").alias("host"),
        WB.url_path("url").alias("path"),
    )
    rule_arr = F.array(
        F.struct(F.lit(False).alias("allow"), F.lit("/Docs/").alias("prefix")),
        F.struct(F.lit(True).alias("allow"), F.lit("/Docs/4").alias("prefix")),
        F.struct(
            F.lit(False).alias("allow"), F.lit("/private/").alias("prefix")
        ),
        F.struct(
            F.lit(False).alias("allow"), F.lit("/Docs/4*7$").alias("prefix")
        ),
        F.struct(
            F.lit(True).alias("allow"), F.lit("/Docs/1$").alias("prefix")
        ),
        F.struct(
            F.lit(False).alias("allow"), F.lit("/Docs/3*$").alias("prefix")
        ),
        F.struct(
            F.lit(True).alias("allow"), F.lit("/Docs/38").alias("prefix")
        ),
    )
    rules = (
        d.select(F.lower("source").alias("s"))
        .distinct()
        .select(
            F.concat(F.lit("www."), F.col("s"), F.lit(".example.com")).alias(
                "host"
            ),
            F.explode(rule_arr).alias("r"),
        )
        .select("host", F.col("r.allow").alias("allow"), F.col("r.prefix").alias("prefix"))
    )
    return WB.with_robots_verdict(hosts, rules, "host", "path")


@query(
    "w_crawl_curation",
    f"""
    WITH docs AS (
      SELECT doc_id, source FROM documents WHERE doc_id % 5 = 0
    ), resp AS (
      SELECT doc_id, source, r
      FROM docs, unnest(range(1, doc_id % 3 + 2)) AS t(r)
      WHERE r % 4 <> 3
    ), ex AS (
      SELECT 'www.' || lower(source) || '.example.com' AS host,
             'https://www.' || source || '.example.com/w/'
               || CAST(doc_id * 10 + r AS VARCHAR) AS target_uri,
             'Body ' || CAST(doc_id AS VARCHAR) || '-'
               || CAST(r AS VARCHAR) AS text
      FROM resp
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY host
               ORDER BY {_HASH60.format(salt="crawl", key="target_uri")},
                        target_uri) AS rk
      FROM ex
    )
    SELECT host, target_uri, text,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
    FROM ranked WHERE rk <= 10
    """,
)
def w_crawl_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END crawl curation over the file-based WARC source —
    the composition a Common-Crawl-style pipeline actually runs:
    format("warc") over on-disk .warc/.warc.gz shards, the standard
    predicate (response records, HTTP 200) applied by Spark's own
    Filter over the scanned rows (the source accepts no pushed
    filters: they would leak across scans of one loaded frame),
    HTML→text extraction, token counting, and a deterministic
    ≤10-docs-per-host cap (stratified_take). The oracle predicts
    every surviving row analytically from the shard fixture, so a
    hash match proves the whole chain — gzip members, WARC framing,
    HTTP unwrap, filtering, extraction, capping — ran end to end. Only shuffle: the per-host cap's single exchange
    (map-side WindowGroupLimit)."""
    from mongodb_etl_migration_spark.operators import sampling as SM
    from mongodb_etl_migration_spark.sources.warc_source import register_warc

    path = _warc_fixture_dir(spark, sf_dir)
    register_warc(spark)
    df = (
        spark.read.format("warc")
        .load(path)
        .filter(
            (F.col("warc_type") == "response")
            & (F.col("http_status") == 200)
        )
    )
    ex = df.select(
        WB.url_host("target_uri").alias("host"),
        "target_uri",
        WB.html_to_text(F.col("body")).alias("text"),
    ).withColumn("n_tokens", F.size(F.split(F.col("text"), " ")))
    return SM.stratified_take(ex, ["host"], 10, "target_uri", salt="crawl")


@query(
    "w_robots_parse",
    """
    WITH hosts AS (
      SELECT DISTINCT 'www.' || lower(source) || '.example.com' AS host,
             lower(source) AS s,
             CAST(nullif(regexp_extract(lower(source), '[0-9]+', 0), '')
               AS INTEGER) AS num
      FROM documents
    ), r AS (
      SELECT host, rule.allow AS allow,
             CASE WHEN rule.prefix = '@SRC@'
                  THEN '/s-' || s || '/' ELSE rule.prefix END AS prefix,
             rule.ord AS ord
      FROM hosts,
           (VALUES (FALSE, '/Docs/', 1), (TRUE, '/Docs/4', 2),
                   (FALSE, '/private/', 3), (FALSE, '@SRC@', 4))
             rule(allow, prefix, ord)
      WHERE num IS NULL OR num % 3 <> 0
    )
    SELECT host, allow, prefix FROM r
    """,
)
def w_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt PARSING (web.parse_robots_rules) for a named
    crawler ('crawler-x-news/2.1'): per crawl host a realistic raw
    robots.txt body — a googlebot-only group that must be skipped, a
    combined two-line User-agent group (prefix-matching 'crawler-x'
    first, '*' second) that must match at specificity 9, an empty
    Disallow (no restriction → no row), comment and blank lines, a
    host-specific rule, and two RFC 9309 TRAPS: (a) a stray
    Crawl-delay between two User-agent lines (must END the header run
    — the googlebot group after it may NOT inherit crawler-x's
    specificity, so /merged-trap/ never surfaces), and (b) on every
    3rd host a MORE specific matching 'crawler-x-news' group with no
    rules at all (most-specific group selected over headers → means
    allow-all; the less-specific rules are ignored, so the host emits
    NO rows). Folded by the pure-Column F.aggregate line parser, no
    UDF, zero shuffle; the oracle predicts the surviving rules
    analytically. Feeds with_robots_verdict (w_robots_filter) for the
    full raw-body → rules → verdict chain."""
    d = Catalog(spark, sf_dir).documents
    hosts = d.select(F.lower("source").alias("s")).distinct().select(
        F.concat(F.lit("www."), F.col("s"), F.lit(".example.com")).alias(
            "host"
        ),
        "s",
        # nullif before the cast: a digit-less source yields '' and
        # CAST('' AS INT) aborts under the session's pinned ANSI mode
        # (the oracle already models the NULL row)
        F.nullif(F.regexp_extract("s", "[0-9]+", 0), F.lit(""))
        .cast("int")
        .alias("num"),
    )
    body = F.concat(
        F.lit(
            "# robots for "
        ),
        F.col("host"),
        F.lit(
            "\nUser-agent: googlebot\nDisallow: /google-only/\n\n"
            "User-agent: crawler-x\nUser-Agent: *\n"
            "Disallow: /Docs/\nAllow: /Docs/4\n"
            "# tracking endpoints\nDisallow:\nDisallow: /private/\n"
            "Disallow: /s-"
        ),
        F.col("s"),
        F.lit(
            "/\n\n"
            # Trap (a): the stray directive ends the header run; the
            # googlebot group below must NOT merge with crawler-x.
            "User-agent: crawler-x\nCrawl-delay: 2\n"
            "User-agent: googlebot\nDisallow: /merged-trap/\n"
        ),
        # Trap (b): a more specific matching group with no rules —
        # selected, means allow-all; host emits no rows.
        F.when(
            F.col("num") % 3 == 0,
            F.lit(
                "\nUser-agent: crawler-x-news\n"
                "# version-pinned build, allow all\n"
            ),
        ).otherwise(F.lit("")),
    )
    pages = hosts.select("host", body.alias("robots_txt"))
    return WB.parse_robots_rules(
        pages, "host", "robots_txt", user_agent="crawler-x-news/2.1"
    )


@query(
    "w_robots_sitemaps",
    """
    WITH hosts AS (
      SELECT DISTINCT 'www.' || lower(source) || '.example.com' AS host
      FROM documents
    )
    SELECT host, 'https://' || host || sm.path AS sitemap_url
    FROM hosts, (VALUES ('/sitemap.xml'), ('/news.xml')) sm(path)
    """,
)
def w_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap directives out of robots.txt (web.robots_sitemaps) —
    RFC 9309 §2.3 allows them anywhere, outside user-agent groups;
    the fixture buries one lowercase and one SHOUTED/whitespace-
    padded directive among groups and comments. Closes the frontier
    loop robots.txt → sitemap URL → sitemap_urls. Zero shuffle."""
    d = Catalog(spark, sf_dir).documents
    hosts = d.select(F.lower("source").alias("s")).distinct().select(
        F.concat(F.lit("www."), F.col("s"), F.lit(".example.com")).alias(
            "host"
        )
    )
    body = F.concat(
        F.lit("User-agent: *\nDisallow: /private/\n"),
        F.lit("SITEMAP: \thttps://"),
        F.col("host"),
        F.lit("/news.xml \n# comment\nsitemap: https://"),
        F.col("host"),
        F.lit("/sitemap.xml\n"),
    )
    pages = hosts.select("host", body.alias("robots_txt"))
    return WB.robots_sitemaps(pages, "host", "robots_txt")


def _web_page_html() -> F.Column:
    """Deterministic page fixture for the link-graph family: title,
    absolute canonical link (a SELF-edge the graph must drop), two
    cross-host outlinks keyed off doc_id, and a relative link on
    every 5th doc (absolute-only gate must skip it). Built
    IDENTICALLY in the SQL oracles."""
    d = F.col("doc_id")
    ds = d.cast("string")
    s = F.lower("source")
    return F.concat(
        F.lit("<html><head><title>Doc "), ds,
        F.lit(" of "), F.upper("source"), F.lit("</title>"),
        F.lit('<link rel="canonical" href="https://www.'), s,
        F.lit(".example.com/p/"), ds, F.lit('"></head><body>'),
        F.lit('<a href="https://site'), (d % 7).cast("string"),
        F.lit(".example.org/page/"), ds, F.lit('">first</a>'),
        F.lit('<a href="https://site'), ((d + 3) % 7).cast("string"),
        F.lit('.example.org/about">second</a>'),
        F.when(
            d % 5 == 0, F.lit('<a href="/relative/path">rel</a>')
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )


_WEB_LINKS_SQL = """
      SELECT 'www.' || lower(source) || '.example.com' AS src_host,
             'site' || CAST(doc_id % 7 AS VARCHAR)
               || '.example.org' AS dst_host
      FROM documents
      UNION ALL
      SELECT 'www.' || lower(source) || '.example.com',
             'site' || CAST((doc_id + 3) % 7 AS VARCHAR) || '.example.org'
      FROM documents
"""


def _web_link_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src_host, dst_host, n_links) parsed FROM the HTML fixture via
    html_links + url_host — the operators under test; the oracles
    predict the same edges analytically."""
    d = Catalog(spark, sf_dir).documents
    pages = d.select(
        "doc_id",
        F.lower("source").alias("s"),
        _web_page_html().alias("html"),
    )
    src = F.concat(F.lit("www."), F.col("s"), F.lit(".example.com"))
    return WB.link_graph(pages, "html", src)



@query(
    "w_crawl_delay",
    """
    WITH hosts AS (
      SELECT DISTINCT lower(source) AS s,
             'www.' || lower(source) || '.example.com' AS host
      FROM documents
    ), n AS (
      SELECT host,
             CAST(nullif(regexp_extract(s, '[0-9]+', 0), '') AS INTEGER)
               AS num
      FROM hosts
    )
    SELECT host,
           CASE WHEN num IS NULL OR num % 4 = 0 THEN 9.0
                ELSE CAST(num % 9 AS DOUBLE) + 0.5 END AS crawl_delay
    FROM n WHERE num IS NULL OR num % 4 IN (0, 1)
    """,
)
def w_crawl_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-delay extraction (web.robots_crawl_delay) for crawler
    'mybot' — the de-facto per-host rate-limit knob a crawl scheduler
    pairs with crawl_schedule's budgets, exercising RFC 9309 §2.2.1
    group selection over headers. Per host: a googlebot group with its
    own delay (never matches) and a '*' group with delay 9, then by
    host number: num%4==0 → no mybot group, the '*' fallback delay 9
    applies; num%4==1 → a mybot group with a bogus (ignored) then the
    real delay num%9+0.5, which overrides '*'; num%4==2 → a mybot
    group with rules but NO Crawl-delay — the selected group lacks
    the knob, so the host is OMITTED (the '*' delay may NOT leak in);
    num%4==3 → a stray-Sitemap trap: 'User-agent: mybot / Sitemap: /
    User-agent: googlebot / Crawl-delay: 4' — the Sitemap line ends
    the header run, googlebot's delay may not inherit mybot's
    specificity, and since the selected mybot group has no delay the
    host is omitted too. Same zero-shuffle pure-Column fold as the
    rule parser; the oracle predicts each host's surviving delay
    analytically."""
    d = Catalog(spark, sf_dir).documents
    hosts = d.select(F.lower("source").alias("s")).distinct().select(
        F.concat(F.lit("www."), F.col("s"), F.lit(".example.com")).alias(
            "host"
        ),
        F.nullif(F.regexp_extract("s", "[0-9]+", 0), F.lit(""))
        .cast("int")
        .alias("num"),
    )
    m4 = F.col("num") % 4
    body = F.concat(
        F.lit(
            "User-agent: googlebot\nCrawl-delay: 1\nDisallow: /g/\n\n"
            "User-agent: *\nDisallow: /private/\nCrawl-delay: 9\n\n"
        ),
        F.when(
            m4 == 1,
            F.concat(
                F.lit(
                    "User-agent: mybot\nDisallow: /m/\n"
                    "Crawl-delay: bogus\nCrawl-delay: "
                ),
                (
                    (F.col("num") % 9).cast("double") + F.lit(0.5)
                ).cast("string"),
                F.lit("\n"),
            ),
        )
        .when(m4 == 2, F.lit("User-agent: mybot\nDisallow: /m/\n"))
        .when(
            m4 == 3,
            F.lit(
                "User-agent: mybot\nSitemap: https://example.com/s.xml\n"
                "User-agent: googlebot\nCrawl-delay: 4\n"
            ),
        )
        .otherwise(F.lit("")),
    )
    pages = hosts.select("host", body.alias("robots_txt"))
    return WB.robots_crawl_delay(
        pages, "host", "robots_txt", user_agent="mybot"
    )


@query(
    "w_link_graph",
    f"""
    WITH l AS ({_WEB_LINKS_SQL})
    SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links
    FROM l GROUP BY src_host, dst_host
    """,
)
def w_link_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-level outlink graph from raw HTML (web.html_links +
    link_graph) — the WAT-style extraction behind domain ranking:
    hrefs exploded, absolute http(s) links kept (url_host is NULL
    for the relative ones), the canonical self-link dropped by the
    self-edge filter, counts per (src, dst) host pair. One shuffle
    on the host pair with map-side partial counts; the oracle
    predicts the edge list analytically, so a hash match proves the
    links came out of real markup."""
    return _web_link_edges(spark, sf_dir)


@query(
    "w_html_meta",
    """
    SELECT doc_id,
           'Doc ' || CAST(doc_id AS VARCHAR) || ' of ' || upper(source)
             AS title,
           'www.' || lower(source) || '.example.com' AS canonical_host
    FROM documents
    """,
)
def w_html_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page metadata extraction (web.html_title + the first href —
    the canonical link — through url_host): the WAT-record fields a
    crawl index keeps per page. Pure regexp Columns, zero shuffle."""
    d = Catalog(spark, sf_dir).documents
    pages = d.select("doc_id", _web_page_html().alias("html"))
    return pages.select(
        "doc_id",
        WB.html_title(F.col("html")).alias("title"),
        WB.url_host(F.element_at(WB.html_links(F.col("html")), 1)).alias(
            "canonical_host"
        ),
    )


@query(
    "w_anchor_text",
    """
    SELECT doc_id,
           'https://site' || CAST(doc_id % 7 AS VARCHAR)
             || '.example.org/page/' || CAST(doc_id AS VARCHAR) AS href,
           'first' AS anchor_text
    FROM documents
    UNION ALL
    SELECT doc_id,
           'https://site' || CAST((doc_id + 3) % 7 AS VARCHAR)
             || '.example.org/about',
           'second'
    FROM documents
    UNION ALL
    SELECT doc_id, '/relative/path', 'rel'
    FROM documents WHERE doc_id % 5 = 0
    """,
)
def w_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text extraction (web.html_anchors) — the link-context
    signal retrieval corpora and WAT records keep per outlink: every
    <a href>'s target plus its tag-stripped inner text, exploded to
    one row per anchor. The canonical <link> element carries no
    anchor body and is correctly absent. Pure Columns (regexp + array
    transform), zero shuffle; oracle predicts every (href, text) pair
    analytically from the page fixture."""
    d = Catalog(spark, sf_dir).documents
    pages = d.select("doc_id", _web_page_html().alias("html"))
    return pages.select(
        "doc_id", F.explode(WB.html_anchors(F.col("html"))).alias("a")
    ).select(
        "doc_id",
        F.col("a.href").alias("href"),
        F.col("a.text").alias("anchor_text"),
    )


def _hid60(c: F.Column) -> F.Column:
    """Shared 60-bit md5 node-id builder (15 hex chars — the engine's
    cross-engine hash-width contract; _HOST_ID_SQL is its SQL twin,
    and the two MUST change together)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


_HOST_ID_SQL = "CAST(('0x' || substring(md5({h}), 1, 15)) AS BIGINT)"


@query(
    "g_pagerank_web",
    _pagerank_rounds_sql(
        f"""SELECT DISTINCT {_HOST_ID_SQL.format(h="src_host")} AS src,
                      {_HOST_ID_SQL.format(h="dst_host")} AS dst
      FROM hl""",
        prelude=f"hl AS MATERIALIZED (SELECT DISTINCT src_host, dst_host "
        f"FROM ({_WEB_LINKS_SQL})),\n    ",
        final=f""",
    hosts AS MATERIALIZED (
      SELECT DISTINCT host FROM (
        SELECT src_host AS host FROM hl
        UNION ALL SELECT dst_host FROM hl
      )
    )
    SELECT h.host, r.pr
    FROM r3 r JOIN hosts h ON r.node = {_HOST_ID_SQL.format(h="h.host")}""",
    ),
)
def g_pagerank_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain ranking over the crawl link graph — the Common-Crawl-
    style composition: HTML pages → host edge list (w_link_graph's
    parse path, real markup) → string hosts mapped to bigint node
    ids via the 60-bit md5 idiom (deterministic, engine-portable) →
    integer-exact PageRank (3 rounds, fixed-point longs) → ids
    joined back to host names. The unrolled SQL oracle reproduces
    every rank bit-for-bit over the same analytic edge list. Per
    round: one src + one dst shuffle; ranks node-sized. The parsed
    edge list is lazily checkpointed: TWO derivations read it (the
    PageRank edge set and the hosts name-join spine) and without the
    pin each re-runs the whole HTML parse (regexp href extraction —
    the duplicated-subtree disease; r14 before-plan showed the parse
    twice in the final join alone)."""
    edges = (
        _web_link_edges(spark, sf_dir)
        .select("src_host", "dst_host")
        .localCheckpoint(eager=False)
    )

    e = edges.select(
        _hid60(F.col("src_host")).alias("src"), _hid60(F.col("dst_host")).alias("dst")
    )
    pr = G.pagerank_integer(e, "src", "dst", iterations=3)
    hosts = (
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select("dst_host"))
        .distinct()
    )
    return pr.join(hosts.withColumn("node", _hid60(F.col("host"))), "node").select(
        "host", "pr"
    )


@query(
    "g_pagerank_web_weighted",
    _pagerank_rounds_sql(
        f"""SELECT {_HOST_ID_SQL.format(h="src_host")} AS src,
                      {_HOST_ID_SQL.format(h="dst_host")} AS dst,
                      CAST(count(*) AS BIGINT) AS w
      FROM ({_WEB_LINKS_SQL}) GROUP BY 1, 2""",
        weighted=True,
        final=f""",
    hosts AS MATERIALIZED (
      SELECT DISTINCT host FROM (
        SELECT src_host AS host FROM ({_WEB_LINKS_SQL})
        UNION ALL SELECT dst_host FROM ({_WEB_LINKS_SQL})
      )
    )
    SELECT h.host, r.pr
    FROM r3 r JOIN hosts h ON r.node = {_HOST_ID_SQL.format(h="h.host")}""",
    ),
)
def g_pagerank_web_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED domain ranking: the same crawl link graph, but each
    edge carries its link COUNT and every node splits rank
    proportionally — (rank·w) div out_weight — instead of uniformly
    (a host linked 50 times from one page family outranks a host
    linked once; the unweighted variant can't see the difference).
    Still integer-exact end to end, so the weighted unrolled SQL
    oracle matches bit-for-bit. Same per-round shuffle shape as the
    unweighted query; duplicate (src,dst) edges pre-aggregate their
    weights map-side. Edge list lazily checkpointed — two
    derivations (weighted edge set + hosts spine), one HTML parse
    (g_pagerank_web's rationale)."""
    edges = _web_link_edges(spark, sf_dir).localCheckpoint(eager=False)

    e = edges.select(
        _hid60(F.col("src_host")).alias("src"),
        _hid60(F.col("dst_host")).alias("dst"),
        "n_links",
    )
    pr = G.pagerank_integer(e, "src", "dst", iterations=3, weight="n_links")
    hosts = (
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select("dst_host"))
        .distinct()
    )
    return pr.join(hosts.withColumn("node", _hid60(F.col("host"))), "node").select(
        "host", "pr"
    )


@query(
    "g_hits_web",
    _hits_rounds_sql(
        f"""SELECT DISTINCT {_HOST_ID_SQL.format(h="src_host")} AS src,
                      {_HOST_ID_SQL.format(h="dst_host")} AS dst
      FROM hl""",
        prelude=f"hl AS MATERIALIZED (SELECT DISTINCT src_host, dst_host "
        f"FROM ({_WEB_LINKS_SQL})),\n    ",
        final=f""",
    hosts AS MATERIALIZED (
      SELECT DISTINCT host FROM (
        SELECT src_host AS host FROM hl
        UNION ALL SELECT dst_host FROM hl
      )
    )
    SELECT h.host, a.auth, hb.hub
    FROM a3 a JOIN h3 hb ON a.node = hb.node
    JOIN hosts h ON a.node = {_HOST_ID_SQL.format(h="h.host")}""",
    ),
)
def g_hits_web(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the crawl host graph — the link-
    directory-vs-content separation on real parsed markup: HTML pages
    → host edge list (w_link_graph's parse path) → 60-bit md5 host
    ids → integer-exact HITS (graph.hits_integer, 3 max-renormalized
    rounds) → host names. Same bit-for-bit unrolled-SQL discipline as
    g_pagerank_web; per round one src + one dst shuffle. Edge list
    lazily checkpointed — two derivations (HITS edge set + hosts
    spine), one HTML parse (g_pagerank_web's rationale)."""
    edges = (
        _web_link_edges(spark, sf_dir)
        .select("src_host", "dst_host")
        .localCheckpoint(eager=False)
    )

    e = edges.select(
        _hid60(F.col("src_host")).alias("src"), _hid60(F.col("dst_host")).alias("dst")
    )
    res = G.hits_integer(e, "src", "dst", iterations=3)
    hosts = (
        edges.select(F.col("src_host").alias("host"))
        .union(edges.select("dst_host"))
        .distinct()
    )
    return res.join(
        hosts.withColumn("node", _hid60(F.col("host"))), "node"
    ).select("host", "auth", "hub")


# ---- shared SQL builders for the ExactSubstr oracle family ----
# (the _bpe_train_oracle/_pagerank_rounds_sql discipline: any chain
# that must stay bit-identical across several oracles is GENERATED,
# never copy-pasted — the round-9 review found the 50-byte detection
# chain duplicated verbatim and the island merge quintuplicated,
# exactly one boundary-convention change away from silent drift.)

# Fixture plant shared by the span family: every 4th doc's text
# doubled (within-doc), %6==3 docs share an 8-token/51-char
# boilerplate tail, %6==5 docs the family-specific third tail.
def _span_fixture_src_sql(third_tail: str | None) -> str:
    third = (
        f"""
             WHEN doc_id % 6 = 5 THEN text ||
               ' {third_tail}'"""
        if third_tail
        else ""
    )
    return f"""src AS (
      SELECT doc_id,
        CASE WHEN doc_id % 4 = 0 THEN text || ' ' || text
             WHEN doc_id % 6 = 3 THEN text ||
               ' subscribe to our newsletter for daily updates today'{third}
             ELSE text END AS text2
      FROM documents
    ), toks AS (
      SELECT doc_id, regexp_extract_all(lower(text2), '[a-z0-9]+') AS t
      FROM src
    )"""


# 50-byte per-position suffix-window detection: toks -> dup rows
# (doc_id, pos, endp) with corpus-count gating.
_EXACT_DETECTION_SQL = """grams AS (
      SELECT doc_id, s.s AS pos,
             substr(array_to_string(list_slice(t, s.s, s.s + 49), ' '),
                    1, 50) AS w
      FROM toks, unnest(range(1, len(t) + 1)) AS s(s)
    ), pos_rows AS (
      SELECT doc_id, pos, md5(w) AS whash,
             pos + len(string_split(substr(w, 1, 49), ' ')) - 1 AS endp
      FROM grams WHERE length(w) = 50
    ), counted AS (
      SELECT doc_id, pos, endp,
             count(*) OVER (PARTITION BY whash) AS cnt
      FROM pos_rows
    ), dup AS (
      SELECT doc_id, pos, endp FROM counted WHERE cnt >= 2
    )"""

# 8-token rolling k-gram detection: toks -> dup rows
# (doc_id, pos, endp = pos + 7) with corpus-count gating.
_KGRAM_DETECTION_SQL = """grams AS (
      SELECT doc_id, s.s AS pos,
             md5(array_to_string(list_slice(t, s.s, s.s + 7), ' ')) AS whash
      FROM toks, unnest(range(1, len(t) - 6)) AS s(s)
      WHERE len(t) >= 8
    ), counted AS (
      SELECT doc_id, pos, pos + 7 AS endp,
             count(*) OVER (PARTITION BY whash) AS cnt
      FROM grams
    ), dup AS (
      SELECT doc_id, pos, endp FROM counted WHERE cnt >= 2
    )"""

# Gaps-and-islands merge over dup(doc_id, pos, endp) -> grp rows.
_SPAN_ISLANDS_SQL = """flagged AS (
      SELECT doc_id, pos, endp,
        CASE WHEN max(endp) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
             OR pos > max(endp) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
             THEN 1 ELSE 0 END AS newf
      FROM dup
    ), grp AS (
      SELECT doc_id, pos, endp,
             sum(newf) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM flagged
    )"""

_SPAN_FINAL_SQL = """
    SELECT doc_id,
           CAST(min(pos) AS BIGINT) AS span_start,
           CAST(max(endp) AS BIGINT) AS span_end,
           CAST(max(endp) - min(pos) + 1 AS BIGINT) AS span_tokens
    FROM grp GROUP BY doc_id, g"""

# Removal surgery over grp + toks: merged spans -> per-doc interval
# arrays -> indexed cut (shared verbatim by both removal oracles).
_SPAN_REMOVAL_TAIL_SQL = """, spans AS (
      SELECT doc_id, min(pos) AS a, max(endp) AS b
      FROM grp GROUP BY doc_id, g
    ), sarr AS (
      SELECT doc_id, list(struct_pack(a := a, b := b)) AS sp
      FROM spans GROUP BY doc_id
    ), cut AS (
      SELECT t.doc_id, t.t,
        list_filter(
          list_transform(t.t, (x, i) -> CASE WHEN len(list_filter(
              coalesce(s.sp, CAST([] AS STRUCT(a BIGINT, b BIGINT)[])),
              r -> r.a <= i AND i <= r.b)) = 0 THEN x END),
          v -> v IS NOT NULL) AS kept
      FROM toks t LEFT JOIN sarr s USING (doc_id)
    )
    SELECT doc_id,
           coalesce(array_to_string(kept, ' '), '') AS clean_text,
           CAST(len(t) - len(kept) AS BIGINT) AS n_removed
    FROM cut"""


@query(
    "t_corpus_diversity",
    """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 < 6 THEN 'web'
                  WHEN doc_id % 10 < 9 THEN 'books'
                  ELSE 'wiki' END AS grp,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ), tok AS (
      SELECT doc_id, grp, unnest(t) AS term FROM d
    ), g AS (
      SELECT grp,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(count(DISTINCT term) AS BIGINT) AS n_types
      FROM tok GROUP BY grp
    )
    SELECT grp, n_docs, n_tokens, n_types,
           CAST(floor(CAST(n_types AS DOUBLE) * 100000 / n_tokens)
             AS BIGINT) AS ttr_e5
    FROM g
    """,
)
def t_corpus_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus diversity report — the dataset-quality dashboard row
    behind dedup/mixing decisions: per domain, document count, token
    count, distinct token TYPES, and the type-token ratio (×1e5,
    floor — integer-exact across engines; a domain whose TTR
    collapses is template spam or dedup debt, one whose TTR spikes is
    OCR noise). Plan: one token explode feeding a per-domain
    aggregate with two count-distincts (Catalyst expands to the
    standard expand+two-phase aggregate — exchanges carry (domain,
    term)/(domain, doc) pairs, linear in tokens, never a collect).
    Same 60/30/10 domain fixture as the mixing queries, so the
    reports compose into one curation dashboard."""
    d = Catalog(spark, sf_dir).documents.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 < 6, F.lit("web"))
        .when(F.col("doc_id") % 10 < 9, F.lit("books"))
        .otherwise(F.lit("wiki"))
        .alias("grp"),
        F.explode(T.tokens("text")).alias("term"),
    )
    g = d.groupBy("grp").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_tokens"),
        F.countDistinct("term").cast("bigint").alias("n_types"),
    )
    return g.select(
        "grp",
        "n_docs",
        "n_tokens",
        "n_types",
        F.floor(
            F.col("n_types").cast("double") * 100000 / F.col("n_tokens")
        )
        .cast("bigint")
        .alias("ttr_e5"),
    )


@query(
    "t_dup_spans",
    f"""
    WITH {_span_fixture_src_sql("all rights reserved worldwide 2024")},
    {_KGRAM_DETECTION_SQL}, {_SPAN_ISLANDS_SQL}{_SPAN_FINAL_SQL}
    """,
)
def t_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style duplicated-span detection
    (text.duplicated_spans, the Lee-et-al signal): 8-token windows
    occurring ≥2 times corpus-wide mark duplicated regions; merged
    per-doc spans come back as 1-based token intervals. Fixture
    plants both failure modes a real corpus has — every 4th doc's
    text doubled (within-doc self-duplication → one giant span) and
    every doc_id%6==3 doc carrying a shared 9-token boilerplate tail
    (cross-doc duplication → a small terminal span) — plus the
    DOCUMENTED DETECTION BOUND: every doc_id%6==5 doc carries a
    shared 5-token tail, SHORTER than k=8, which must produce NO span
    (no 8-window fits inside it; the windows reaching back into the
    unique document body occur once). The oracle carries the same
    plant, so the hash gate pins the bound's behavior cross-engine —
    catching sub-k duplicates is duplicated_spans' k knob, not a
    bigger fixture. Corpus counts ride one fingerprint exchange
    (window, no self-join); the island merge is two windows over the
    per-doc position exchange — integer-exact, spans reproduced
    bit-for-bit by the oracle."""
    d = Catalog(spark, sf_dir).documents
    src = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        )
        .when(
            F.col("doc_id") % 6 == 3,
            F.concat(
                F.col("text"),
                F.lit(
                    " subscribe to our newsletter for daily updates today"
                ),
            ),
        )
        .when(
            F.col("doc_id") % 6 == 5,
            F.concat(
                F.col("text"),
                F.lit(" all rights reserved worldwide 2024"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text2"),
    )
    return T.duplicated_spans(src, "doc_id", "text2", k=8, min_count=2)


@query(
    "t_dup_spans_exact",
    f"""
    WITH {_span_fixture_src_sql(
        "internationalization telecommunications responsibilities the 2024"
    )},
    {_EXACT_DETECTION_SQL}, {_SPAN_ISLANDS_SQL}{_SPAN_FINAL_SQL}
    """,
)
def t_dup_spans_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ExactSubstr at Lee et al. 2022's 50-BYTE character
    threshold (text.duplicated_spans_exact) — the companion that
    closes t_dup_spans' k-gram detection bound. Each token position
    fingerprints the first 50 characters of its suffix (one hash per
    position, ONE corpus-wide fingerprint exchange, variable-width
    token coverage, per-doc island merge — same scale class as the
    k-gram pass). Fixture plants the three regimes: every 4th doc's
    text doubled (within-doc self-duplication), doc_id%6==3 docs
    share a 51-char/8-token boilerplate tail (cross-doc, visible to
    BOTH passes), and doc_id%6==5 docs share a 65-char/5-TOKEN tail —
    SHORTER than k=8 tokens, so t_dup_spans cannot see it at any
    window that fits, but 15 chars past the 50-byte line, so this
    pass MUST report it (the flip of the k-gram bound pinned in
    t_dup_spans). The oracle rebuilds the per-position windows from
    the same list-slice + substr algebra, so spans — starts, ends,
    and the boundary convention that a window ending ON a joining
    space does NOT claim the next token — are reproduced
    bit-for-bit."""
    d = Catalog(spark, sf_dir).documents
    src = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        )
        .when(
            F.col("doc_id") % 6 == 3,
            F.concat(
                F.col("text"),
                F.lit(
                    " subscribe to our newsletter for daily updates today"
                ),
            ),
        )
        .when(
            F.col("doc_id") % 6 == 5,
            F.concat(
                F.col("text"),
                F.lit(
                    " internationalization telecommunications"
                    " responsibilities the 2024"
                ),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text2"),
    )
    return T.duplicated_spans_exact(
        src, "doc_id", "text2", min_bytes=50, min_count=2
    )


@query(
    "t_dup_spans_probe",
    """
    WITH src AS (
      SELECT doc_id,
        CASE WHEN doc_id % 5 = 0 THEN text ||
               ' subscribe to our newsletter for daily updates today'
             ELSE text END AS text2
      FROM documents
    ), toks AS (
      SELECT doc_id, regexp_extract_all(lower(text2), '[a-z0-9]+') AS t
      FROM src
    ), grams AS (
      SELECT doc_id, s.s AS pos,
             md5(array_to_string(list_slice(t, s.s, s.s + 7), ' ')) AS whash
      FROM toks, unnest(range(1, len(t) - 6)) AS s(s)
      WHERE len(t) >= 8
    ), idx AS (
      SELECT whash, count(*) AS icnt
      FROM grams WHERE doc_id % 2 = 0 GROUP BY whash
    ), bat AS (
      SELECT doc_id, pos, whash,
             count(*) OVER (PARTITION BY whash) AS bcnt
      FROM grams WHERE doc_id % 2 = 1
    ), dup AS (
      SELECT b.doc_id, b.pos, b.pos + 7 AS endp
      FROM bat b LEFT JOIN idx i ON b.whash = i.whash
      WHERE b.bcnt + coalesce(i.icnt, 0) >= 2
    ),
    """
    + _SPAN_ISLANDS_SQL
    + _SPAN_FINAL_SQL,
)
def t_dup_spans_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ExactSubstr (text.duplicated_spans_probe): even
    doc_ids play the HISTORICAL corpus — present only as their
    gram_count_index — and odd doc_ids the new ingest batch; every
    5th doc (both halves) carries the shared boilerplate tail, so
    batch spans arise from batch-internal repeats AND from pure
    index hits (an odd %5 doc whose tail partners are all even).
    Only the batch is tokenized; batch counts ride one fingerprint
    exchange; the index is reduced by an inner join against the
    BROADCAST distinct batch fingerprints and only that batch-sized
    reduction joins back (a LeftOuter join cannot build its left
    side, so joining the raw index directly would shuffle the
    corpus) — the index is scanned, never shuffled (plan-pinned).
    Oracle replays index build + probe + island merge bit-for-bit."""
    d = Catalog(spark, sf_dir).documents
    src = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.col("text"),
                F.lit(
                    " subscribe to our newsletter for daily updates today"
                ),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text2"),
    )
    hist = src.filter(F.col("doc_id") % 2 == 0)
    batch = src.filter(F.col("doc_id") % 2 == 1)
    idx = T.gram_count_index(hist, "doc_id", "text2", k=8)
    return T.duplicated_spans_probe(
        batch, idx, "doc_id", "text2", k=8, min_count=2
    )


@query(
    "t_dup_span_attribution",
    """
    WITH src AS (
      SELECT doc_id,
        CASE WHEN doc_id % 4 = 0 THEN text || ' ' || text
             WHEN doc_id % 6 = 3 THEN text ||
               ' subscribe to our newsletter for daily updates today'
             WHEN doc_id % 6 = 5 THEN text ||
               ' all rights reserved worldwide 2024'
             ELSE text END AS text2
      FROM documents
    ), toks AS (
      SELECT doc_id, regexp_extract_all(lower(text2), '[a-z0-9]+') AS t
      FROM src
    ), grams AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(t, s.s, s.s + 7), ' ')) AS whash
      FROM toks, unnest(range(1, len(t) - 6)) AS s(s)
      WHERE len(t) >= 8
    ), counted AS (
      SELECT doc_id, whash,
             count(*) OVER (PARTITION BY whash) AS cnt,
             min(doc_id) OVER (PARTITION BY whash) AS srcd
      FROM grams
    )
    SELECT srcd AS src_doc, doc_id AS dst_doc,
           CAST(count(*) AS BIGINT) AS n_windows
    FROM counted WHERE cnt >= 2 AND doc_id <> srcd
    GROUP BY srcd, doc_id
    """,
)
def t_dup_span_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-span ATTRIBUTION (text.span_attribution) — the
    provenance report behind an ExactSubstr cut: every duplicated
    8-token window attributes to its corpus-FIRST carrier (min
    doc_id), giving (source doc, copying doc, shared window count)
    rows. The m-docs-share-a-fingerprint case yields m-1 LINEAR pairs
    (never the m^2/2 all-pairs explosion a hot site-wide boilerplate
    would trigger), the same global-first-wins convention as
    span_dedup; within-doc repeats are excluded. Same fixture as
    t_dup_spans, so the boilerplate-tail cohort (doc_id%6==3) must
    all attribute to the cohort's smallest id. Two exchanges: the
    fingerprint window (count + min-id, no self-join) and the pair
    groupBy."""
    d = Catalog(spark, sf_dir).documents
    src = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        )
        .when(
            F.col("doc_id") % 6 == 3,
            F.concat(
                F.col("text"),
                F.lit(
                    " subscribe to our newsletter for daily updates today"
                ),
            ),
        )
        .when(
            F.col("doc_id") % 6 == 5,
            F.concat(
                F.col("text"),
                F.lit(" all rights reserved worldwide 2024"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text2"),
    )
    return T.span_attribution(src, "doc_id", "text2", k=8, min_count=2)


@query(
    "t_span_removal_exact",
    f"""
    WITH {_span_fixture_src_sql(
        "internationalization telecommunications responsibilities the 2024"
    )},
    {_EXACT_DETECTION_SQL}, {_SPAN_ISLANDS_SQL}{_SPAN_REMOVAL_TAIL_SQL}
    """,
)
def t_span_removal_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr REMOVAL at the 50-byte character threshold
    (text.remove_duplicated_spans with min_bytes — routed through the
    exact_substr_spans dispatcher): the regions t_dup_spans_exact
    detects are CUT from every document, including the 65-char/5-TOKEN
    boilerplate tail the k-gram removal pass (t_span_removal, k=8)
    structurally leaves in place. Same plan shape as t_span_removal
    (detection exchanges + one interval-array join back on id + the
    zero-shuffle indexed cut); the oracle extends t_dup_spans_exact's
    proven detection chain with the identical removal CTEs, so the
    hash certifies byte-threshold detection AND surgery together."""
    d = Catalog(spark, sf_dir).documents
    src = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        )
        .when(
            F.col("doc_id") % 6 == 3,
            F.concat(
                F.col("text"),
                F.lit(
                    " subscribe to our newsletter for daily updates today"
                ),
            ),
        )
        .when(
            F.col("doc_id") % 6 == 5,
            F.concat(
                F.col("text"),
                F.lit(
                    " internationalization telecommunications"
                    " responsibilities the 2024"
                ),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text2"),
    )
    return T.remove_duplicated_spans(src, "doc_id", "text2", min_bytes=50)


@query(
    "a20_bilateral_trade",
    f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(sum({_REVENUE_SQL.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")}) AS DOUBLE) AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
    """,
)
def a20_bilateral_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two nations, both
    directions, by ship year. Plan: the two nation-filtered dimension
    chains (supplier⋈nation₁, customer⋈nation₂ — each pre-pruned to
    one nation pair) BROADCAST against the date-filtered lineitem
    scan; the only exchanges are lineitem⋈orders (the sole fact-fact
    join) and the final 4-group aggregation, whose partials collapse
    map-side. The disjunctive nation-pair predicate is applied after
    both dimension joins, exactly as Catalyst plans Q7."""
    c = Catalog(spark, sf_dir)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    pair = ["NATION_1", "NATION_2"]
    supp = (
        c.supplier.select("s_suppkey", "s_nationkey")
        .join(
            c.nation.filter(F.col("n_name").isin(pair)).select(
                "n_nationkey", F.col("n_name").alias("supp_nation")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        c.customer.select("c_custkey", "c_nationkey")
        .join(
            c.nation.filter(F.col("n_name").isin(pair)).select(
                F.col("n_nationkey").alias("n2_key"),
                F.col("n_name").alias("cust_nation"),
            ),
            F.col("c_nationkey") == F.col("n2_key"),
        )
        .select("c_custkey", "cust_nation")
    )
    li = c.lineitem.filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_orderkey", "l_suppkey", "l_shipdate", "l_extendedprice", "l_discount")
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(c.orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"))
    )


@query(
    "a21_returned_items",
    f"""
    SELECT c.c_custkey, n.n_name,
           CAST(sum({_REVENUE_SQL.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, n.n_name
    ORDER BY revenue DESC, c.c_custkey ASC
    LIMIT 20
    """,
)
def a21_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in
    one quarter. Returnflag + quarter predicates push into the two
    fact scans; customer and nation broadcast; the per-customer sum is
    map-side partial; the global top-20 compiles to
    TakeOrderedAndProject (per-partition heads, never a full sort).
    Revenue sums exactly in decimal before the final double cast, so
    the ORDER BY key is bit-identical across engines; c_custkey breaks
    ties deterministically."""
    c = Catalog(spark, sf_dir)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    li = c.lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = c.orders.filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    ).select("o_orderkey", "o_custkey")
    cust = c.customer.select("c_custkey", "c_nationkey").join(
        F.broadcast(c.nation.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_custkey", "n_name")
        .agg(F.sum(price * (one - disc)).cast("double").alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )





@query(
    "a22_sole_return_suppliers",
    """
    WITH per_order AS (
      SELECT l_orderkey,
             count(DISTINCT l_suppkey) AS n_supp,
             count(DISTINCT CASE WHEN l_returnflag = 'R'
                                 THEN l_suppkey END) AS n_ret_supp
      FROM lineitem
      GROUP BY l_orderkey
    ), qualifying AS (
      SELECT DISTINCT l.l_suppkey, l.l_orderkey
      FROM lineitem l
      JOIN per_order p ON l.l_orderkey = p.l_orderkey
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      WHERE l.l_returnflag = 'R'
        AND o.o_orderstatus = 'F'
        AND p.n_supp > 1
        AND p.n_ret_supp = 1
    )
    SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM qualifying q JOIN supplier s ON q.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def a22_sole_return_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 SHAPE (suppliers-who-kept-orders-waiting), adapted
    to this schema's columns: on finalized multi-supplier orders,
    count per supplier the orders where THAT supplier was the sole
    one with a returned line — the classic EXISTS / NOT-EXISTS
    correlated self-reference on the fact table, rewritten the way a
    columnar engine should run it: ONE aggregation over lineitem
    computes both correlations (any-other-supplier, any-other-
    returning-supplier) as per-order distinct counts, replacing two
    correlated self-joins with a single exchange; the supplier
    dimension broadcasts; top-20 is TakeOrderedAndProject."""
    c = Catalog(spark, sf_dir)
    per_order = c.lineitem.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_ret_supp"),
    )
    qualifying = (
        c.lineitem.filter(F.col("l_returnflag") == "R")
        .join(
            per_order.filter(
                (F.col("n_supp") > 1) & (F.col("n_ret_supp") == 1)
            ),
            "l_orderkey",
        )
        .join(
            c.orders.filter(F.col("o_orderstatus") == "F").select(
                F.col("o_orderkey").alias("l_orderkey")
            ),
            "l_orderkey",
        )
        .select("l_suppkey", "l_orderkey")
        .distinct()
    )
    return (
        qualifying.join(F.broadcast(c.supplier), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(20)
    )


@query(
    "a23_large_volume_customers",
    """
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS total_qty
      FROM lineitem
      GROUP BY l_orderkey
      HAVING sum(l_quantity) > 150
    )
    SELECT c.c_name, o.o_orderkey, o.o_orderdate,
           CAST(o.o_totalprice AS DOUBLE) AS o_totalprice,
           CAST(b.total_qty AS BIGINT) AS total_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 50
    """,
)
def a23_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 SHAPE (large-volume customers): orders whose total
    line quantity exceeds a threshold, decorated with their customer —
    the HAVING-subquery-feeds-IN pattern run as one partial-agg
    exchange over the fact table (map-side combine, no IN-subquery
    rescan), dimension joins broadcast, top-50 via
    TakeOrderedAndProject's per-partition heaps."""
    c = Catalog(spark, sf_dir)
    big = (
        c.lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        big.join(
            c.orders, big["l_orderkey"] == c.orders["o_orderkey"]
        )
        .join(
            F.broadcast(c.customer),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.col("o_totalprice").cast("double").alias("o_totalprice"),
            F.col("total_qty").cast("bigint").alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(50)
    )



@query(
    "a24_kmv_distinct",
    """
    WITH toks AS (
      SELECT source,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ), h AS (
      SELECT DISTINCT source,
             CAST(('0x' || substring(md5('kmv#' || tok), 1, 15)) AS BIGINT)
               AS hv
      FROM toks
    ), rn AS (
      SELECT source, hv,
             row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
      FROM h
    ), sk AS (
      SELECT source, list(hv ORDER BY hv) AS kmv
      FROM rn WHERE rn <= 16 GROUP BY source
    ), true_d AS (
      SELECT source, count(DISTINCT tok) AS true_distinct FROM toks
      GROUP BY source
    )
    SELECT s.source,
           array_to_string(list_transform(s.kmv,
             x -> CAST(x AS VARCHAR)), '-') AS kmv_str,
           CAST(len(s.kmv) AS BIGINT) AS n_seen,
           CASE WHEN len(s.kmv) < 16 THEN CAST(len(s.kmv) AS DOUBLE)
                ELSE 15.0 * 1152921504606846976.0
                     / CAST(s.kmv[16] AS DOUBLE) END AS distinct_est,
           CAST(t.true_distinct AS BIGINT) AS true_distinct
    FROM sk s JOIN true_d t USING (source)
    """,
)
def a24_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k distinct-count sketch (profiling.kmv_sketch,
    Bar-Yossef et al. 2002) — the MERGEABLE cardinality summary a
    100 TB pipeline keeps per shard where exact distincts would
    shuffle the world: per source, the 16 smallest 60-bit token
    hashes + the (k−1)·2^60/h_k estimate (exact count when the
    group has fewer than k distinct values). The engine-portable md5
    idiom makes sketch AND estimate bit-reproducible in DuckDB; the
    true distinct count rides along so the row itself documents the
    estimate's accuracy. Distinct (group, hash) pre-aggregates
    map-side; the bottom-k trim is a WindowGroupLimit — k rows per
    group per map task."""
    from mongodb_etl_migration_spark.operators import profiling as P

    d = Catalog(spark, sf_dir).documents
    toks = d.select(
        "source", F.explode(T.tokens("text")).alias("tok")
    )
    sk = P.kmv_sketch(toks, ["source"], "tok", k=16)
    true_d = toks.groupBy("source").agg(
        F.countDistinct("tok").cast("bigint").alias("true_distinct")
    )
    return sk.join(true_d, "source").select(
        "source",
        F.array_join(
            F.transform("kmv", lambda x: x.cast("string")), "-"
        ).alias("kmv_str"),
        "n_seen",
        "distinct_est",
        "true_distinct",
    )



_CM_PROBES = ("table", "query", "the", "zz-absent", "data")


@query(
    "a25_cm_frequencies",
    f"""
    WITH toks AS (
      SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ), cells AS (
      SELECT r.r AS row,
             CAST(CAST(('0x' || substring(md5('cm#' || r.r || '#' || tok),
                                          1, 15)) AS BIGINT) % 64 AS INTEGER)
               AS idx,
             tok
      FROM toks, (SELECT unnest(range(0, 4)) AS r) r
    ), sk AS (
      SELECT row, idx, CAST(count(*) AS BIGINT) AS cnt
      FROM cells GROUP BY row, idx
    ), probes(token) AS (
      VALUES {", ".join(f"('{p}')" for p in _CM_PROBES)}
    ), pcells AS (
      SELECT p.token, r.r AS row,
             CAST(CAST(('0x' || substring(md5('cm#' || r.r || '#' || p.token),
                                          1, 15)) AS BIGINT) % 64 AS INTEGER)
               AS idx
      FROM probes p, (SELECT unnest(range(0, 4)) AS r) r
    ), est AS (
      SELECT pc.token,
             CAST(min(coalesce(s.cnt, 0)) AS BIGINT) AS cm_est
      FROM pcells pc LEFT JOIN sk s USING (row, idx)
      GROUP BY pc.token
    ), truth AS (
      SELECT tok AS token, CAST(count(*) AS BIGINT) AS true_cnt
      FROM toks GROUP BY tok
    )
    SELECT e.token, e.cm_est, CAST(coalesce(t.true_cnt, 0) AS BIGINT)
             AS true_cnt
    FROM est e LEFT JOIN truth t USING (token)
    """,
)
def a25_cm_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min frequency sketch (profiling.cm_sketch, Cormode &
    Muthukrishnan 2005): 4×64 integer counters over the corpus token
    stream, then point estimates for five probe tokens — min over
    each probe's four counters, with the true count riding along so
    every row documents the one-sided guarantee (estimate ≥ truth;
    an absent token estimates whatever its counters collided into).
    The engine-portable salted md5 makes every counter AND estimate
    bit-reproducible in SQL. The sketch's only exchange aggregates
    depth·width counters — fixed-size state at any corpus size, and
    per-shard sketches merge by counter-wise addition (tested)."""
    from mongodb_etl_migration_spark.operators import profiling as P

    d = Catalog(spark, sf_dir).documents
    toks = d.select(F.explode(T.tokens("text")).alias("tok"))
    sk = P.cm_sketch(toks, "tok", depth=4, width=64)
    probes = spark.createDataFrame(
        [(p,) for p in _CM_PROBES], "token string"
    )
    pcells = probes.select(
        "token",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("row"),
                        F.pmod(
                            P._hash60(F.col("token"), f"cm#{r}"), F.lit(64)
                        )
                        .cast("int")
                        .alias("idx"),
                    )
                    for r in range(4)
                ]
            )
        ).alias("__ri"),
    ).select("token", F.col("__ri.row").alias("row"), F.col("__ri.idx").alias("idx"))
    est = (
        pcells.join(F.broadcast(sk), ["row", "idx"], "left")
        .groupBy("token")
        .agg(
            F.min(F.coalesce(F.col("cnt"), F.lit(0)))
            .cast("bigint")
            .alias("cm_est")
        )
    )
    truth = toks.groupBy(F.col("tok").alias("token")).agg(
        F.count("*").cast("bigint").alias("true_cnt")
    )
    return est.join(truth, "token", "left").select(
        "token",
        "cm_est",
        F.coalesce("true_cnt", F.lit(0)).cast("bigint").alias("true_cnt"),
    )


@query(
    "t_quality_classifier",
    f"""
    WITH w(term, weight) AS (VALUES {_CLS_W_SQL}),
    toks AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ), s AS (
      SELECT t.doc_id, sum(w.weight) AS sw
      FROM toks t JOIN w USING (term) GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(s.sw, 0) AS BIGINT) AS margin,
           coalesce(s.sw, 0) > 0 AS keep
    FROM documents d LEFT JOIN s USING (doc_id)
    """,
)
def t_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality gate (text.classifier_margin): fastText-
    style linear classifier inference — the CCNet/GPT-3 curation step
    after the rule-based Gopher gates. Integer weight table broadcasts
    against exploded tokens; the sole exchange is the per-document
    margin sum (map-side combinable); OOV tokens drop in the join. The
    zero-shuffle map-literal twin (classifier_margin_inline) agrees
    bit-for-bit (tested) — that form is for small vocabs, this one
    scales to the ~1M-term tables real classifiers ship."""
    d = Catalog(spark, sf_dir).documents
    return T.classifier_margin(d, "doc_id", "text")


_SITEMAP_XML_SQL = """
      '<?xml version="1.0"?><urlset>'
      || '<url><loc> https://' || lower(source) || '.com/p/'
      || CAST(doc_id AS VARCHAR) || ' </loc><lastmod>2024-0'
      || CAST(doc_id % 9 + 1 AS VARCHAR) || '-01</lastmod></url>'
      || CASE WHEN doc_id % 4 = 0
              THEN '<url><loc>https://' || lower(source)
                   || '.com/q?a=1&amp;b=2</loc></url>'
              ELSE '' END
      || CASE WHEN doc_id % 6 = 0
              THEN '<sitemap><loc>https://' || lower(source)
                   || '.com/sitemap2.xml</loc></sitemap>'
              ELSE '' END
      || CASE WHEN doc_id % 11 = 0
              THEN '<url><lastmod>2024-01-01</lastmod></url>'
              ELSE '' END
      || '</urlset>'
"""


@query(
    "w_sitemap_urls",
    f"""
    WITH x AS (
      SELECT doc_id, {_SITEMAP_XML_SQL} AS xml FROM documents
    ), e AS (
      SELECT doc_id,
             unnest(regexp_extract_all(xml,
               '(?s)<(?:url|sitemap)>.*?</(?:url|sitemap)>')) AS el
      FROM x
    ), p AS (
      SELECT doc_id,
        nullif(replace(replace(replace(replace(replace(
          regexp_extract(el, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1),
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          '&apos;', ''''), '&amp;', '&'), '') AS loc,
        nullif(regexp_extract(el, '(?s)<lastmod>\\s*(.*?)\\s*</lastmod>', 1),
               '') AS lastmod,
        el LIKE '<sitemap>%' AS is_index
      FROM e
    )
    SELECT doc_id, loc, lastmod, is_index FROM p WHERE loc IS NOT NULL
    """,
)
def w_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap-protocol extraction (web.sitemap_urls): <url>/<sitemap>
    elements → (loc, lastmod, is_index) rows — the crawl-frontier
    discovery feed next to robots.txt, with the freshness signal
    recrawl scheduling keys on. Fixture synthesizes sitemaps with
    whitespace-padded locs, &amp;-escaped query URLs, nested sitemap
    index entries, and loc-less malformed elements (dropped). Pure
    regexp chain, zero shuffle."""
    d = Catalog(spark, sf_dir).documents
    src = F.lower(F.col("source"))
    did = F.col("doc_id").cast("string")
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'),
        F.lit("<url><loc> https://"), src, F.lit(".com/p/"), did,
        F.lit(" </loc><lastmod>2024-0"),
        (F.col("doc_id") % 9 + 1).cast("string"),
        F.lit("-01</lastmod></url>"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("<url><loc>https://"), src,
                F.lit(".com/q?a=1&amp;b=2</loc></url>"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(
                F.lit("<sitemap><loc>https://"), src,
                F.lit(".com/sitemap2.xml</loc></sitemap>"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 11 == 0,
            F.lit("<url><lastmod>2024-01-01</lastmod></url>"),
        ).otherwise(F.lit("")),
        F.lit("</urlset>"),
    )
    return WB.sitemap_urls(
        d.select("doc_id", xml.alias("xml")), "doc_id", "xml"
    )


@query(
    "w_crawl_schedule",
    f"""
    WITH x AS (
      SELECT doc_id, {_SITEMAP_XML_SQL} AS xml FROM documents
    ), e AS (
      SELECT doc_id,
             unnest(regexp_extract_all(xml,
               '(?s)<(?:url|sitemap)>.*?</(?:url|sitemap)>')) AS el
      FROM x
    ), p AS (
      SELECT
        nullif(replace(replace(replace(replace(replace(
          regexp_extract(el, '(?s)<loc>\\s*(.*?)\\s*</loc>', 1),
          '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
          '&apos;', ''''), '&amp;', '&'), '') AS loc,
        nullif(regexp_extract(el, '(?s)<lastmod>\\s*(.*?)\\s*</lastmod>', 1),
               '') AS lastmod,
        el LIKE '<sitemap>%' AS is_index
      FROM e
    ), urls AS (
      SELECT DISTINCT loc, lastmod FROM p
      WHERE loc IS NOT NULL AND NOT is_index
    ), d AS (
      SELECT loc, lastmod,
             regexp_extract(loc, '^https://([^/]+)', 1)
               AS registered_domain
      FROM urls
    ), ranked AS (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY registered_domain
               ORDER BY lastmod ASC NULLS FIRST, loc ASC
             ) AS BIGINT) AS fetch_rank
      FROM d
    )
    SELECT loc, lastmod, registered_domain, fetch_rank
    FROM ranked WHERE fetch_rank <= 15
    """,
)
def w_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl scheduling (web.crawl_schedule): the discovered
    frontier (sitemap_urls over the synthesized sitemaps, index
    entries excluded, deduped) ranked STALEST-first per registered
    domain — unknown lastmod fetches first — and capped at 15 per
    domain. Politeness budgets key on the PSL registered domain; the
    2-label hosts here make the oracle's domain = host (the PSL
    fallback), while the operator runs the full broadcast-join path.
    One exchange (the domain rank window, WindowGroupLimit-trimmed
    map-side)."""
    d = Catalog(spark, sf_dir).documents
    src = F.lower(F.col("source"))
    did = F.col("doc_id").cast("string")
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset>'),
        F.lit("<url><loc> https://"), src, F.lit(".com/p/"), did,
        F.lit(" </loc><lastmod>2024-0"),
        (F.col("doc_id") % 9 + 1).cast("string"),
        F.lit("-01</lastmod></url>"),
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("<url><loc>https://"), src,
                F.lit(".com/q?a=1&amp;b=2</loc></url>"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 6 == 0,
            F.concat(
                F.lit("<sitemap><loc>https://"), src,
                F.lit(".com/sitemap2.xml</loc></sitemap>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</urlset>"),
    )
    urls = (
        WB.sitemap_urls(
            d.select("doc_id", xml.alias("xml")), "doc_id", "xml"
        )
        .filter(~F.col("is_index"))
        .select("loc", "lastmod")
        .distinct()
    )
    return WB.crawl_schedule(urls, "loc", "lastmod", per_domain=15).select(
        "loc", "lastmod", "registered_domain", "fetch_rank"
    )


_SPAMMY_URL_SQL = """
      CASE doc_id % 5
        WHEN 0 THEN 'https://a1b2c3d4e5f6.' || lower(source) || '.com/x'
        WHEN 1 THEN 'https://a.b.c.d.e.' || lower(source) || '.org/page'
        WHEN 2 THEN 'https://' || lower(source) || '.com/' ||
                    repeat('seg/', 40) || 'leaf'
        WHEN 3 THEN 'https://' || lower(source) || '.net/p?' ||
                    repeat('k=v&', 30) || 'z=1'
        ELSE 'https://www.' || lower(source) || '.com/docs/' ||
             CAST(doc_id % 50 AS VARCHAR)
      END
"""



def _gzip_binary_udf():
    """Fixture helper: gzip a string column into binary (mtime=0 so
    bytes are deterministic) — synthesizes the .xml.gz sitemap
    payloads the frontier loop must gunzip back."""
    import gzip

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def gz(xml: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None if x is None else gzip.compress(x.encode(), mtime=0)
                for x in xml
            ]
        )

    return gz


@query(
    "w_frontier_pipeline",
    """
    WITH src AS (SELECT DISTINCT lower(source) AS s FROM documents),
    u AS (
      SELECT s, 'https://www.' || s || '.com/p/' || i AS loc,
             '2024-01-1' || i AS lastmod
      FROM src, unnest(range(0, 6)) t(i)
      UNION ALL
      SELECT s, 'https://www.' || s || '.com/q/' || i,
             CASE WHEN i % 3 = 0 THEN NULL ELSE '2023-07-1' || i END
      FROM src, unnest(range(0, 6)) t(i)
    ), ranked AS (
      SELECT s || '.com' AS registered_domain, loc, lastmod,
             CAST(1 AS INTEGER) AS depth,
             row_number() OVER (
               PARTITION BY s
               ORDER BY lastmod ASC NULLS FIRST, loc
             ) AS rk
      FROM u
    )
    SELECT registered_domain, loc, lastmod, depth,
           CAST(rk AS BIGINT) AS fetch_rank
    FROM ranked WHERE rk <= 7
    """,
)
def w_frontier_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END crawl-frontier pipeline: robots.txt ``Sitemap:``
    directives (web.robots_sitemaps) seed the sitemap frontier loop
    (web.sitemap_frontier) — a <sitemapindex> per host recursing into
    one PLAIN child and one GZIPPED child (real .xml.gz bytes built
    with mtime=0, gunzipped back by magic-byte detection inside the
    loop) — and the discovered URLs feed recrawl scheduling
    (web.crawl_schedule, stalest-first per PSL registered domain,
    never-crawled NULLs first, per_domain=7 so the budget interleaves
    both children's URLs). Per frontier level the KB-scale seed set
    BROADCASTS into the pages corpus (the corpus never shuffles —
    PLANS.md receipt); the driver loop is depth-bounded with
    localCheckpointed, cycle-proof next-seed sets. The oracle predicts
    every surviving row analytically from the fixture construction,
    so a hash match proves directives → index recursion → gzip layer
    → extraction → PSL grouping → budget ranking end to end."""
    d = Catalog(spark, sf_dir).documents
    src = d.select(F.lower("source").alias("s")).distinct()
    host = F.concat(F.lit("www."), F.col("s"), F.lit(".com"))
    base = F.concat(F.lit("https://"), host)

    robots = src.select(
        host.alias("host"),
        F.concat(
            F.lit("User-agent: *\nDisallow: /tmp/\nSitemap: "),
            base,
            F.lit("/sitemap.xml\n"),
        ).alias("robots_txt"),
    )
    seeds = WB.robots_sitemaps(robots, "host", "robots_txt")

    idx_xml = F.concat(
        F.lit("<sitemapindex><sitemap><loc>"),
        base,
        F.lit("/sm/a.xml</loc></sitemap><sitemap><loc>"),
        base,
        F.lit("/sm/b.xml</loc></sitemap></sitemapindex>"),
    )

    def urlset(path: str, lastmod_null_mod3: bool) -> F.Column:
        parts: list[F.Column] = [F.lit("<urlset>")]
        for i in range(6):
            parts += [F.lit("<url><loc>"), base, F.lit(f"/{path}/{i}</loc>")]
            if lastmod_null_mod3 and i % 3 == 0:
                parts.append(F.lit("</url>"))
            elif lastmod_null_mod3:
                parts.append(F.lit(f"<lastmod>2023-07-1{i}</lastmod></url>"))
            else:
                parts.append(F.lit(f"<lastmod>2024-01-1{i}</lastmod></url>"))
        parts.append(F.lit("</urlset>"))
        return F.concat(*parts)

    gz = _gzip_binary_udf()
    pages = (
        src.select(
            F.concat(base, F.lit("/sitemap.xml")).alias("url"),
            F.encode(idx_xml, "UTF-8").alias("payload"),
        )
        .unionByName(
            src.select(
                F.concat(base, F.lit("/sm/a.xml")).alias("url"),
                F.encode(urlset("p", False), "UTF-8").alias("payload"),
            )
        )
        .unionByName(
            src.select(
                F.concat(base, F.lit("/sm/b.xml")).alias("url"),
                gz(urlset("q", True)).alias("payload"),
            )
        )
    )

    frontier = WB.sitemap_frontier(pages, "url", "payload", seeds)
    sched = WB.crawl_schedule(frontier, "loc", "lastmod", per_domain=7)
    return sched.select(
        "registered_domain", "loc", "lastmod", "depth", "fetch_rank"
    )


@query(
    "w_url_quality",
    f"""
    WITH u AS (
      SELECT doc_id, {_SPAMMY_URL_SQL} AS url FROM documents
    ), h AS (
      SELECT doc_id, url,
        lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)', 1))
          AS host,
        regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', '') AS rest
      FROM u
    ), m AS (
      SELECT doc_id,
        CAST(length(host) - length(regexp_replace(host, '[0-9]', '', 'g'))
             AS DOUBLE) / length(host) AS host_digit_ratio,
        CAST(length(host) - length(replace(host, '.', '')) AS BIGINT)
          AS n_subdomains,
        CAST(length(regexp_extract(rest, '^([^?#]*)', 1)) AS BIGINT)
          AS path_len,
        CAST(length(regexp_extract(rest, '\\?([^#]*)', 1)) AS BIGINT)
          AS query_len
      FROM h
    )
    SELECT doc_id, host_digit_ratio, n_subdomains, path_len, query_len,
           (host_digit_ratio <= 0.2 AND n_subdomains <= 4
            AND path_len <= 120 AND query_len <= 80) AS url_quality_pass
    FROM m
    """,
)
def w_url_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-fetch URL spam heuristics (web.url_quality_flags) — the
    FineWeb/CCNet gate that prunes digit-farm hosts, auto-generated
    subdomain chains, and path/query bloat before fetching a byte.
    The fixture synthesizes each spam class deterministically
    (digit-heavy host, 6-dot chain, 40-segment path, 31-param query,
    plus clean URLs), so every flag fires on a known slice. Pure
    Column predicates, zero shuffle."""
    d = Catalog(spark, sf_dir).documents
    src = F.lower(F.col("source"))
    did = F.col("doc_id")
    url = (
        F.when(
            did % 5 == 0,
            F.concat(F.lit("https://a1b2c3d4e5f6."), src, F.lit(".com/x")),
        )
        .when(
            did % 5 == 1,
            F.concat(F.lit("https://a.b.c.d.e."), src, F.lit(".org/page")),
        )
        .when(
            did % 5 == 2,
            F.concat(
                F.lit("https://"), src, F.lit(".com/"),
                F.repeat(F.lit("seg/"), 40), F.lit("leaf"),
            ),
        )
        .when(
            did % 5 == 3,
            F.concat(
                F.lit("https://"), src, F.lit(".net/p?"),
                F.repeat(F.lit("k=v&"), 30), F.lit("z=1"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("https://www."), src, F.lit(".com/docs/"),
                (did % 50).cast("string"),
            )
        )
    )
    u = d.select("doc_id", url.alias("url"))
    flags = WB.url_quality_flags(F.col("url"))
    return u.select(
        "doc_id",
        flags["host_digit_ratio"].alias("host_digit_ratio"),
        flags["n_subdomains"].alias("n_subdomains"),
        flags["path_len"].alias("path_len"),
        flags["query_len"].alias("query_len"),
        flags["url_quality_pass"].alias("url_quality_pass"),
    )


_BLOCKED_DOMAINS = ["src0.co.uk", "src3.com", "src6.com.au"]
_BANNED_WORDS = ["dup", "spam"]


def _w_blocklist_sql() -> str:
    blocked = ", ".join(f"'{d}'" for d in _BLOCKED_DOMAINS)
    banned = ", ".join(f"'{w}'" for w in _BANNED_WORDS)
    return (
        _psl_domain_sql()
        + f"""
    , r AS (
      SELECT doc_id,
        {_PSL_REG_SQL} AS registered_domain
      FROM j
    )
    SELECT r.doc_id, r.registered_domain
    FROM r JOIN documents d USING (doc_id)
    WHERE (r.registered_domain IS NULL
           OR r.registered_domain NOT IN ({blocked}))
      AND NOT list_has_any(
            regexp_extract_all(lower(d.text), '[a-z0-9]+'),
            [{banned}])
    """
    )


@query("w_blocklist_filter", _w_blocklist_sql())
def w_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1/FineWeb-style blocklist gate (web.blocklist_filter): drop
    docs whose PSL registered domain is blocklisted (broadcast
    left-anti join — a NULL domain, i.e. a bare public suffix, is not
    blockable and survives, which the oracle mirrors explicitly
    because SQL NOT IN would silently drop NULLs) or whose text
    contains a banned token (array_intersect against a literal —
    codegen, no lambda). Zero shuffle: read-and-drop at any scale."""
    d = Catalog(spark, sf_dir).documents
    hosts = d.select("doc_id", "text", _psl_host_col().alias("host"))
    out = WB.blocklist_filter(
        hosts, "host", "text", _BLOCKED_DOMAINS, _BANNED_WORDS
    )
    return out.select("doc_id", "registered_domain")


@query(
    "t_gopher_repetition",
    """
    WITH d AS (
      SELECT doc_id,
        CASE WHEN doc_id % 5 = 0
               THEN text || chr(10) || text || chr(10) || text
             WHEN doc_id % 7 = 0 THEN text || chr(10) || 'extra line'
             ELSE text END AS t2
      FROM documents
    ), lines AS (
      SELECT doc_id,
             list_filter(string_split(t2, chr(10)),
                         l -> length(trim(l)) > 0) AS ls
      FROM d
    ), lf AS (
      SELECT doc_id,
        CASE WHEN len(ls) > 0 THEN
          (len(ls) - len(list_distinct(ls))) / CAST(len(ls) AS DOUBLE)
        ELSE 0.0 END AS dup_line_frac,
        CASE WHEN length(array_to_string(ls, '')) > 0 THEN
          (length(array_to_string(ls, ''))
           - length(array_to_string(list_distinct(ls), '')))
          / CAST(length(array_to_string(ls, '')) AS DOUBLE)
        ELSE 0.0 END AS dup_line_char_frac
      FROM lines
    ), toks AS (
      SELECT doc_id, regexp_extract_all(lower(t2), '[a-z0-9]+') AS t
      FROM d
    ), base AS (
      SELECT doc_id, length(array_to_string(t, ' ')) AS tok_chars
      FROM toks
    ), g AS (
      SELECT tk.doc_id, ns.n,
             unnest(list_transform(range(1, len(tk.t) - ns.n + 2),
                    i -> array_to_string(tk.t[i:i+ns.n-1], ' '))) AS gram
      FROM toks tk,
           (SELECT unnest([2,3,4,5,6,7,8,9,10]) AS n) ns
    ), gs AS (
      SELECT doc_id, n, gram, count(*) AS c, length(gram) AS lg
      FROM g GROUP BY doc_id, n, gram
    ), pn AS (
      SELECT doc_id, n,
        CAST(max(c * lg) AS BIGINT) AS topc,
        CAST(sum((c - 1) * lg) AS BIGINT) AS dupc
      FROM gs GROUP BY doc_id, n
    ), piv AS (
      SELECT doc_id,
        coalesce(max(CASE WHEN n=2  THEN topc END), 0) AS top2,
        coalesce(max(CASE WHEN n=3  THEN topc END), 0) AS top3,
        coalesce(max(CASE WHEN n=4  THEN topc END), 0) AS top4,
        coalesce(max(CASE WHEN n=5  THEN dupc END), 0) AS dup5,
        coalesce(max(CASE WHEN n=6  THEN dupc END), 0) AS dup6,
        coalesce(max(CASE WHEN n=7  THEN dupc END), 0) AS dup7,
        coalesce(max(CASE WHEN n=8  THEN dupc END), 0) AS dup8,
        coalesce(max(CASE WHEN n=9  THEN dupc END), 0) AS dup9,
        coalesce(max(CASE WHEN n=10 THEN dupc END), 0) AS dup10
      FROM pn GROUP BY doc_id
    ), fr AS (
      SELECT b.doc_id, l.dup_line_frac, l.dup_line_char_frac,
        CAST(coalesce(p.top2, 0) AS BIGINT) AS top_bigram_chars,
        CASE WHEN b.tok_chars > 0 THEN coalesce(p.top2, 0)
          / CAST(b.tok_chars AS DOUBLE) ELSE 0.0 END AS top_2gram_char_frac,
        CASE WHEN b.tok_chars > 0 THEN coalesce(p.top3, 0)
          / CAST(b.tok_chars AS DOUBLE) ELSE 0.0 END AS top_3gram_char_frac,
        CASE WHEN b.tok_chars > 0 THEN coalesce(p.top4, 0)
          / CAST(b.tok_chars AS DOUBLE) ELSE 0.0 END AS top_4gram_char_frac,
        CASE WHEN b.tok_chars > 0 THEN coalesce(p.dup5, 0)
          / CAST(b.tok_chars AS DOUBLE) ELSE 0.0 END AS dup_5gram_char_frac,
        CASE WHEN b.tok_chars > 0 THEN coalesce(p.dup6, 0)
          / CAST(b.tok_chars AS DOUBLE) ELSE 0.0 END AS dup_6gram_char_frac,
        CASE WHEN b.tok_chars > 0 THEN coalesce(p.dup7, 0)
          / CAST(b.tok_chars AS DOUBLE) ELSE 0.0 END AS dup_7gram_char_frac,
        CASE WHEN b.tok_chars > 0 THEN coalesce(p.dup8, 0)
          / CAST(b.tok_chars AS DOUBLE) ELSE 0.0 END AS dup_8gram_char_frac,
        CASE WHEN b.tok_chars > 0 THEN coalesce(p.dup9, 0)
          / CAST(b.tok_chars AS DOUBLE) ELSE 0.0 END AS dup_9gram_char_frac,
        CASE WHEN b.tok_chars > 0 THEN coalesce(p.dup10, 0)
          / CAST(b.tok_chars AS DOUBLE) ELSE 0.0 END AS dup_10gram_char_frac
      FROM base b
      JOIN lf l ON b.doc_id = l.doc_id
      LEFT JOIN piv p ON b.doc_id = p.doc_id
    )
    SELECT *,
      (dup_line_frac <= CAST(0.30 AS DOUBLE)
       AND dup_line_char_frac <= CAST(0.20 AS DOUBLE)
       AND top_2gram_char_frac <= CAST(0.20 AS DOUBLE)
       AND top_3gram_char_frac <= CAST(0.18 AS DOUBLE)
       AND top_4gram_char_frac <= CAST(0.16 AS DOUBLE)
       AND dup_5gram_char_frac <= CAST(0.15 AS DOUBLE)
       AND dup_6gram_char_frac <= CAST(0.14 AS DOUBLE)
       AND dup_7gram_char_frac <= CAST(0.13 AS DOUBLE)
       AND dup_8gram_char_frac <= CAST(0.12 AS DOUBLE)
       AND dup_9gram_char_frac <= CAST(0.11 AS DOUBLE)
       AND dup_10gram_char_frac <= CAST(0.10 AS DOUBLE)) AS gopher_rep_pass
    FROM fr
    """,
)
def t_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL Gopher §A1.1 repetition rule set (Rae et al. 2021 Table
    A1, via text.with_gopher_repetition): duplicate-line fraction +
    char fraction, top-{2,3,4}-gram char shares, dup-{5..10}-gram
    char shares, and the 11-rule conjunction — completing the
    repetition family next to t_gopher_rules' length/symbol/stopword
    half. Fixture plants triple-repeated docs (1/5) and
    one-extra-line docs. Every numerator is ONE O(L log L)
    sorted-run fold per n (gram_run_stats) — nine folds, zero
    exchanges; all ratios integer-over-integer IEEE divisions. The
    oracle recomputes each numerator relationally (unnest + GROUP
    BY) — a structurally different algorithm, same exact integers."""
    d = Catalog(spark, sf_dir).documents.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat_ws("\n", "text", "text", "text"),
        )
        .when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.col("text"), F.lit("\nextra line")),
        )
        .otherwise(F.col("text"))
        .alias("t2"),
    )
    return T.with_gopher_repetition(d, "t2").drop("t2")


@query(
    "t_paragraph_dedup",
    r"""
    WITH d AS (
      SELECT doc_id,
        CASE WHEN doc_id % 3 = 0
               THEN 'cookie banner accept all' || chr(10) || text
                    || chr(10) || 'subscribe to our newsletter'
             WHEN doc_id % 3 = 1
               THEN text || chr(10) || 'subscribe to our newsletter'
             ELSE text END AS t2
      FROM documents
    ), l AS (
      SELECT doc_id,
             unnest(string_split(coalesce(t2, ''), chr(10))) AS line,
             unnest(range(0, len(string_split(coalesce(t2, ''), chr(10)))))
               AS line_idx
      FROM d
    ), h AS (
      SELECT doc_id, line_idx, line,
        CASE WHEN length(trim(line)) < 1 THEN NULL
             WHEN array_to_string(regexp_extract_all(
                lower(regexp_replace(line, '[0-9]', '', 'g')),
                '[a-z]+'), ' ') <> ''
             THEN md5(array_to_string(regexp_extract_all(
               lower(regexp_replace(line, '[0-9]', '', 'g')),
               '[a-z]+'), ' '))
             WHEN regexp_matches(line, '\p{L}')
             THEN md5(trim(regexp_replace(
               lower(regexp_replace(line, '[0-9]', '', 'g')),
               '\s+', ' ', 'g')))
        END AS hh
      FROM l
    ), ranked AS (
      SELECT *, CASE WHEN hh IS NULL THEN 1 ELSE
        row_number() OVER (PARTITION BY hh ORDER BY doc_id, line_idx)
      END AS rn
      FROM h
    ), kept AS (
      SELECT doc_id, line_idx, line FROM ranked WHERE rn = 1
    ), totals AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines_total
      FROM l GROUP BY doc_id
    )
    SELECT k.doc_id,
           string_agg(k.line, chr(10) ORDER BY k.line_idx) AS clean_text,
           CAST(count(*) AS BIGINT) AS n_lines_kept,
           any_value(t.n_lines_total) AS n_lines_total
    FROM kept k JOIN totals t ON k.doc_id = t.doc_id
    GROUP BY k.doc_id
    """,
)
def t_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet paragraph-level exact dedup (text.dedup_paragraphs):
    newline-delimited lines hash under CCNet normalization (lowercase,
    digit-stripped, punctuation-insensitive), each distinct paragraph
    keeps only its globally FIRST occurrence, documents reassemble
    from survivors — the pass that leaves a site-wide cookie banner
    exactly once in the corpus. Fixture plants a shared banner line
    on 1/3 of docs and a shared footer on 2/3; the winner rule
    (min (doc, line_idx)) is a map-side-combinable aggregate, and the
    hash exchange carries md5 + ids, never text."""
    d = Catalog(spark, sf_dir).documents.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit("cookie banner accept all\n"),
                F.col("text"),
                F.lit("\nsubscribe to our newsletter"),
            ),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            F.concat(
                F.col("text"), F.lit("\nsubscribe to our newsletter")
            ),
        )
        .otherwise(F.col("text"))
        .alias("t2"),
    )
    return T.dedup_paragraphs(d, "doc_id", "t2")


@query(
    "t_unicode_nfc",
    """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text || ' cafe' || chr(769)
                  WHEN doc_id % 3 = 1 THEN text || ' A' || chr(776) || 'b'
                  ELSE text END AS t2
      FROM documents
    )
    SELECT doc_id,
           nfc_normalize(t2) AS norm_text,
           t2 IS DISTINCT FROM nfc_normalize(t2) AS changed
    FROM d
    """,
)
def t_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode NFC normalization (text.nfc_normalize) — canonical
    composition before any hashing/dedup/tokenization (byte-different
    but canonically-equal text otherwise forks every fingerprint).
    Fixture appends DECOMPOSED sequences (combining acute/diaeresis)
    to two thirds of the docs; Python's unicodedata (Arrow-batched
    pandas UDF — Spark has no built-in normalizer) must agree
    byte-for-byte with DuckDB's native nfc_normalize, which pins the
    normalization to the shared Unicode data, not an implementation
    quirk."""
    d = Catalog(spark, sf_dir).documents.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            # ' cafe' + U+0301 COMBINING ACUTE (decomposed on purpose)
            F.concat(F.col("text"), F.lit(" cafe\u0301")),
        )
        .when(
            F.col("doc_id") % 3 == 1,
            # ' A' + U+0308 COMBINING DIAERESIS + 'b'
            F.concat(F.col("text"), F.lit(" A\u0308b")),
        )
        .otherwise(F.col("text"))
        .alias("t2"),
    )
    return T.nfc_normalize(d, "doc_id", "t2")


def _bpe_sql_encode(var: str) -> str:
    """DuckDB mirror of text.bpe_encoded_word_sql: the same merge table
    compiled to the same nested-replace chain (rank order, exhaustive
    per rank via fixed passes)."""
    e = f"concat(' ', regexp_replace({var}, '(.)', '\\1 ', 'g'))"
    for a, b in T.BPE_MERGES:
        for _ in range(T._BPE_PASSES):
            e = f"replace({e}, ' {a} {b} ', ' {a}{b} ')"
    return e


@query(
    "t_bpe_tokens",
    f"""
    WITH toks AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS w
      FROM documents
    )
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           CAST(coalesce(list_sum(list_transform(
                 list_transform(w, x -> {_bpe_sql_encode("x")}),
                 s -> length(s) - length(replace(s, ' ', '')) - 1)),
               0) AS BIGINT) AS bpe_tokens
    FROM toks
    """,
)
def t_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL byte-pair-encoding token counts (text.bpe_token_count) —
    the budgeting number every pre-training pipeline reports, from an
    actual merge table rather than the regex proxy. The merge table
    compiles to a pure Column replace-chain (rank-order application is
    provably equivalent to the greedy lowest-rank loop — a new pair
    always contains the just-created symbol, whose merges rank later),
    so the count is zero-shuffle whole-stage codegen. The oracle runs
    the IDENTICAL chain in DuckDB."""
    d = Catalog(spark, sf_dir).documents
    toks = T.tokens("text")
    return d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_words"),
        T.bpe_token_count("text").alias("bpe_tokens"),
    )


# Demo GPT-2-style merge table in the PUBLISHED merges.txt format
# (parsed by text.parse_merges) over the byte-level alphabet: symbols
# use the GPT-2 bytes_to_unicode mapping (0x20 -> 'Ġ'), rank-ordered
# so the compiled Column chain is exactly the greedy loop. A real
# 50k-line GPT-2 merges.txt loads through the same parser into
# gpt2_encode_ids_batch.
GPT2_DEMO_MERGES_TXT = """\
#version: 0.2
Ġ t
Ġ a
h e
i n
r e
o n
Ġt he
t he
e r
Ġ s
a t
a b
l e
t ab
tab le
o w
Ġ r
Ġr ow
r ow
Ġ 1
9 8
"""

_GPT2_DEMO_MERGES = T.parse_merges(GPT2_DEMO_MERGES_TXT)

# RE2-safe DuckDB twin of the GPT-2 pretokenizer: the published
# pattern minus the (?!\S) lookahead (RE2 has none), then a
# list-surgery pass reproducing Java's greedy-whitespace one-char
# backtrack — a ws run before a non-space splits into (run minus its
# last char) + the last char, which attaches to the next token when
# it is a literal space (re-splitting " '" off a contraction, exactly
# as the real pattern's alternation order does). Verified
# token-for-token against Java regex AND the regex-module reference.
def _gpt2_pretok_sql(keys: str = "doc_id") -> str:
    """The pretokenizer CTE body, parameterized on the carried key
    columns — ``doc_id`` for whole-document encodes, ``doc_id,
    turn_idx, seg`` for the per-segment SFT encode (c_sft_tokens).
    Reads FROM a CTE named ``d`` with a ``t2`` text column."""
    return r"""
    SELECT {K}, flatten(list_transform(L, (tok, i) ->
      CASE
        WHEN regexp_matches(tok, '^\s+$') AND i < len(L) THEN
          list_filter([substr(tok, 1, length(tok)-1),
                       CASE WHEN tok[-1] <> ' ' THEN tok[-1] ELSE '' END],
                      x -> x <> '')
        WHEN i > 1 AND regexp_matches(L[i-1], '^\s+$') AND L[i-1][-1] = ' '
          THEN CASE WHEN tok IN (CHR(39)||'s',CHR(39)||'t',CHR(39)||'re',
                                 CHR(39)||'ve',CHR(39)||'m',CHR(39)||'ll',
                                 CHR(39)||'d')
                    THEN [' '||CHR(39), substr(tok, 2)]
                    ELSE [' ' || tok] END
        ELSE [tok]
      END)) AS toks
    FROM (
      SELECT {K}, regexp_extract_all(t2,
        CHR(39)||'s|'||CHR(39)||'t|'||CHR(39)||'re|'||CHR(39)||'ve|'
        ||CHR(39)||'m|'||CHR(39)||'ll|'||CHR(39)||'d'
        ||'| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'
      ) AS L FROM d
    )
""".replace("{K}", keys)


_GPT2_PRETOK_SQL = _gpt2_pretok_sql()


def _gpt2_sql_encode(var: str) -> str:
    """DuckDB mirror of text.gpt2_encoded's per-pretoken merge chain:
    same demo table, same rank order, same exhaustive passes."""
    e = f"concat(' ', regexp_replace({var}, '(.)', '\\1 ', 'g'))"
    for a, b in _GPT2_DEMO_MERGES:
        for _ in range(T._BPE_PASSES):
            e = f"replace({e}, ' {a} {b} ', ' {a}{b} ')"
    return e


@query(
    "t_bpe_pretok",
    f"""
    WITH d AS (
      SELECT doc_id,
             replace(text, ' table', '   table')
               || ' it' || CHR(39) || 's 1984 ready,' || chr(9)
               || 'set.  go ' AS t2
      FROM documents
    ), pt AS (
      {_GPT2_PRETOK_SQL}
    ), m AS (
      SELECT doc_id, len(toks) AS n_pretokens,
        list_transform(toks, t ->
          replace(replace(replace(t, ' ', 'Ġ'), chr(9), 'ĉ'),
                  chr(10), 'Ċ')) AS mapped
      FROM pt
    ), e AS (
      SELECT doc_id, n_pretokens,
        trim(regexp_replace(
          array_to_string(
            list_transform(mapped, w -> {_gpt2_sql_encode("w")}), ''),
          ' +', ' ', 'g')) AS enc
      FROM m
    )
    SELECT doc_id,
           CAST(n_pretokens AS BIGINT) AS n_pretokens,
           CAST(CASE WHEN enc = '' THEN 0
                     ELSE len(string_split(enc, ' ')) END AS BIGINT)
             AS bpe_tokens,
           substring(enc, 1, 160) AS enc_head
    FROM e
    """,
)
def t_bpe_pretok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-LEVEL BPE with the GPT-2 pretokenizer (text.gpt2_*): the
    published pretokenization regex runs verbatim in Java regex
    (contractions, space-attached letter/number/punct runs, the
    whitespace-lookahead backtrack), pretokens map through the GPT-2
    bytes_to_unicode alphabet ('Ġ' for space), and a merges.txt-format
    demo table (text.parse_merges) compiles to the zero-shuffle
    Column replace chain. Fixture stresses the pretokenizer: a
    triple-space run (backtrack rule), a contraction, digits,
    punctuation, a tab, and trailing double space. The oracle
    reproduces the lookahead RE2-safely via list surgery and runs the
    identical alphabet + merge chain — hash equality proves
    pretokenizer, byte mapping, and merges end-to-end. Real ~50k
    GPT-2 vocabularies load through the same parser into the
    Arrow-batched gpt2_encode_ids_batch."""
    d = Catalog(spark, sf_dir).documents
    t2 = F.concat(
        F.replace(F.col("text"), F.lit(" table"), F.lit("   table")),
        F.lit(" it's 1984 ready,\tset.  go "),
    )
    fixture = d.select("doc_id", t2.alias("t2"))
    enc = T.gpt2_encoded("t2", _GPT2_DEMO_MERGES)
    return fixture.select(
        "doc_id",
        F.size(T.gpt2_pretokenize("t2")).cast("bigint").alias("n_pretokens"),
        T.gpt2_token_count("t2", _GPT2_DEMO_MERGES).alias("bpe_tokens"),
        F.substring(enc, 1, 160).alias("enc_head"),
    )


def _gpt2_vocab_sql_map() -> str:
    """The demo vocabulary's symbol→id table as ONE DuckDB MAP
    literal, generated from the same gpt2_vocab construction the
    Spark plan embeds — base alphabet ids 0-255 in bytes_to_unicode
    order, merge k → 256+k."""
    vocab = T.gpt2_vocab(_GPT2_DEMO_MERGES)
    syms = ", ".join("'" + s.replace("'", "''") + "'" for s in vocab)
    ids = ", ".join(str(i) for i in vocab.values())
    return f"MAP([{syms}], [{ids}])"


def _gpt2_rvocab_sql_map() -> str:
    """The REVERSE id→symbol table as one DuckDB MAP literal — the
    decode direction (mirrors text.gpt2_decode_ascii's reversed
    vocab), used by c_sft_tokens' masked-ids roundtrip proof."""
    vocab = T.gpt2_vocab(_GPT2_DEMO_MERGES)
    syms = ", ".join("'" + s.replace("'", "''") + "'" for s in vocab)
    ids = ", ".join(str(i) for i in vocab.values())
    return f"MAP([{ids}], [{syms}])"


@query(
    "t_bpe_ids",
    f"""
    WITH d AS (
      SELECT doc_id,
             replace(text, ' table', '   table')
               || ' it' || CHR(39) || 's 1984 ready,' || chr(9)
               || 'set.  go ' AS t2
      FROM documents
    ), pt AS (
      {_GPT2_PRETOK_SQL}
    ), m AS (
      SELECT doc_id,
        list_transform(toks, t ->
          replace(replace(replace(t, ' ', 'Ġ'), chr(9), 'ĉ'),
                  chr(10), 'Ċ')) AS mapped
      FROM pt
    ), e AS MATERIALIZED (
      SELECT doc_id,
        trim(regexp_replace(
          array_to_string(
            list_transform(mapped, w -> {_gpt2_sql_encode("w")}), ''),
          ' +', ' ', 'g')) AS enc
      FROM m
    ), vocab AS (
      SELECT {_gpt2_vocab_sql_map()} AS vm
    ), ids AS (
      SELECT doc_id,
        list_transform(
          list_filter(string_split(enc, ' '), s -> s <> ''),
          s -> vm[s][1]) AS tid
      FROM e, vocab
    )
    SELECT doc_id,
           CAST(len(list_filter(tid, x -> x IS NOT NULL)) AS BIGINT)
             AS n_tokens,
           CAST(len(list_filter(tid, x -> x IS NULL)) AS BIGINT)
             AS n_oov,
           array_to_string(tid, ' ') AS token_ids
    FROM ids
    """,
)
def t_bpe_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTEGER GPT-2 token ids end-to-end (text.gpt2_token_ids +
    gpt2_vocab): the same pretokenize → byte-alphabet → merge-chain
    fixture as t_bpe_pretok, then every symbol looked up through the
    rank-ordered id table (base alphabet 0-255 in bytes_to_unicode
    order, merge k → 256+k — GPT-2 vocab.json's construction,
    known-answer-tested against the published encoder's ids in
    tests/test_web_text_ops.py). The id map rides the plan as one
    literal; zero shuffle, zero UDF. The oracle rebuilds the ids with
    the identical MAP literal over the identical merge chain, so a
    hash match proves symbols AND ids byte-for-byte. This is the
    layer that makes the encoder's output feedable to a training
    stack (and diffable against published tokenizations)."""
    d = Catalog(spark, sf_dir).documents
    t2 = F.concat(
        F.replace(F.col("text"), F.lit(" table"), F.lit("   table")),
        F.lit(" it's 1984 ready,\tset.  go "),
    )
    fixture = d.select("doc_id", t2.alias("t2"))
    ids = T.gpt2_token_ids("t2", _GPT2_DEMO_MERGES)
    # Two projections so the expensive id chain is REFERENCED, not
    # re-evaluated, by the derived columns (CollapseProject keeps
    # multiply-referenced non-cheap expressions apart). n_oov makes
    # the Column path's documented loss VISIBLE: array_join drops
    # NULL (out-of-alphabet) ids silently, so a caller gates on
    # n_oov == 0 before trusting token_ids/n_tokens (round-8 advice);
    # non-ASCII corpora take gpt2_encode_ids_batch (t_bpe_ids_uni).
    step = fixture.select("doc_id", ids.alias("__ids"))
    return step.select(
        "doc_id",
        F.size(F.filter("__ids", lambda x: x.isNotNull()))
        .cast("bigint")
        .alias("n_tokens"),
        (F.size("__ids") - F.size(F.filter("__ids", lambda x: x.isNotNull())))
        .cast("bigint")
        .alias("n_oov"),
        F.array_join("__ids", " ").alias("token_ids"),
    )


def _gpt2_alphabet_sql() -> str:
    """The 256-entry GPT-2 byte→unicode alphabet as ONE DuckDB list
    literal (index = byte value + 1), hoisted into a CTE so the
    per-byte lambda references a column, not a literal it would
    re-construct per element."""
    alph = T.gpt2_bytes_to_unicode()
    return (
        "["
        + ", ".join(
            "'" + alph[b].replace("'", "''") + "'" for b in range(256)
        )
        + "]"
    )


_UNI_SUFFIX_SQL = """
      CASE doc_id % 6
        WHEN 0 THEN '中文 分词 中文'
        WHEN 1 THEN ' привет мир'
        WHEN 2 THEN ' γειά σου κόσμε'
        WHEN 3 THEN ' مرحبا بالعالم'
        WHEN 4 THEN ' 🙂🚀'
        ELSE ' naïve café'
      END
"""


@query(
    "t_bpe_ids_unicode",
    f"""
    WITH d AS (
      SELECT doc_id,
             substring(text, 1, 32) || {_UNI_SUFFIX_SQL} AS t2
      FROM documents
    ), pt AS (
      {_GPT2_PRETOK_SQL}
    ), a AS (
      SELECT {_gpt2_alphabet_sql()} AS am, '0123456789ABCDEF' AS hx
    ), m AS (
      SELECT doc_id,
        list_transform(toks, t ->
          array_to_string(
            list_transform(range(1, length(hex(encode(t)))//2 + 1),
              i -> am[(strpos(hx, substr(hex(encode(t)), 2*i-1, 1))-1)*16
                     + strpos(hx, substr(hex(encode(t)), 2*i, 1))]),
            '')) AS mapped
      FROM pt, a
    ), e AS MATERIALIZED (
      SELECT doc_id,
        trim(regexp_replace(
          array_to_string(
            list_transform(mapped, w -> {_gpt2_sql_encode("w")}), ''),
          ' +', ' ', 'g')) AS enc
      FROM m
    ), vocab AS (
      SELECT {_gpt2_vocab_sql_map()} AS vm
    ), ids AS (
      SELECT doc_id,
        list_transform(
          list_filter(string_split(enc, ' '), s -> s <> ''),
          s -> vm[s][1]) AS tid
      FROM e, vocab
    )
    SELECT doc_id,
           CAST(len(tid) AS BIGINT) AS n_tokens,
           array_to_string(tid, ' ') AS token_ids
    FROM ids
    """,
)
def t_bpe_ids_unicode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-UTF-8 GPT-2 token ids through the Arrow-batched path
    (text.gpt2_encode_ids_batch — the lossless route the Column
    path's ASCII-scope docs point to): a multi-script fixture (Han,
    Cyrillic, Greek, Arabic, emoji, Latin-1 accents appended to each
    doc's ASCII head) runs the reference scanner + byte-alphabet +
    merge chain + id lookup inside a pandas UDF. The oracle rebuilds
    the SAME ids engine-independently: RE2 pretokenizer twin, then
    every pretoken's UTF-8 BYTES recovered via hex() and mapped
    through the 256-entry bytes_to_unicode list literal (no
    space/tab shortcut — the real byte fallback), then the identical
    merge chain + vocab MAP. Known-answer vectors for non-Latin
    strings ('中' → [160,116,255], '🙂' → [172,253,247,224]) pin the
    byte-level construction in tests/test_web_text_ops.py. Per-row
    Arrow batches, zero shuffle, vocab ships once per executor —
    the 50k-merge production shape."""
    d = Catalog(spark, sf_dir).documents
    dd = F.col("doc_id")
    suffix = (
        F.when(dd % 6 == 0, F.lit("中文 分词 中文"))
        .when(dd % 6 == 1, F.lit(" привет мир"))
        .when(dd % 6 == 2, F.lit(" γειά σου κόσμε"))
        .when(dd % 6 == 3, F.lit(" مرحبا بالعالم"))
        .when(dd % 6 == 4, F.lit(" 🙂🚀"))
        .otherwise(F.lit(" naïve café"))
    )
    fixture = d.select(
        "doc_id", F.concat(F.substring("text", 1, 32), suffix).alias("t2")
    )
    return T.gpt2_encode_ids_batch(fixture, "doc_id", "t2", _GPT2_DEMO_MERGES)


@query(
    "t_seq_pack",
    """
    WITH ids AS (
      SELECT doc_id,
             list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
                            t -> CAST(length(t) AS INTEGER)) AS tid
      FROM documents
    ), b AS (
      SELECT doc_id % 16 AS bucket, doc_id,
             list_append(tid, 0) AS t2
      FROM ids
    ), g AS (
      SELECT bucket,
             flatten(list_transform(
               list_sort(list(struct_pack(d := doc_id, t := t2))),
               s -> s.t)) AS stream
      FROM b GROUP BY bucket
    ), seqs AS (
      SELECT bucket, i.i AS seq_idx,
             list_slice(stream, i.i * 64 + 1, i.i * 64 + 64) AS w
      FROM g, unnest(range(0, len(stream) // 64)) AS i(i)
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(seq_idx AS BIGINT) AS seq_idx,
           CAST(len(w) AS BIGINT) AS n_tokens,
           array_to_string(w, ' ') AS token_ids
    FROM seqs
    """,
)
def t_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-length training-sequence packing (text.pack_sequences) —
    the last pipeline step before a training loader: per-document id
    arrays concatenate in deterministic bucket/id order with an EOS
    id after every document, and each bucket's stream splits into
    exactly-64-token windows (incomplete tails dropped, the standard
    practice). The fixture derives ids as token LENGTHS so the oracle
    stays a pure packing mirror (the BPE-ids → pack integration is
    unit-tested; ids are ids); ONE exchange (the bucket groupBy),
    per-bucket state bounded by the documented buckets-sized-to-fit
    rule shared with shard packing. Oracle reproduces buckets,
    order, EOS placement, windows, and tail-dropping exactly."""
    d = Catalog(spark, sf_dir).documents
    ids = d.select(
        "doc_id",
        F.transform(
            T.tokens("text"), lambda t: F.length(t).cast("int")
        ).alias("tid"),
    )
    return T.pack_sequences(
        ids, "doc_id", "tid", seq_len=64, eos_id=0, n_buckets=16
    )


@query(
    "t_pack_bestfit",
    r"""
    WITH RECURSIVE ids AS MATERIALIZED (
      SELECT doc_id,
             list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
                            t -> CAST(length(t) AS INTEGER)) AS tid
      FROM documents
    ), st AS MATERIALIZED (
      SELECT doc_id % 16 AS bucket, doc_id AS d,
             list_append(tid, 0) AS stream
      FROM ids
    ), ch AS MATERIALIZED (
      SELECT bucket, d, CAST(c.c AS INTEGER) AS c,
             stream[c.c*64+1 : least((c.c+1)*64, len(stream))] AS toks
      FROM st, UNNEST(range(0, CAST(ceil(len(stream)/64.0) AS BIGINT)))
           AS c(c)
    ), it AS MATERIALIZED (
      SELECT bucket, d, c, CAST(len(toks) AS INTEGER) AS sz, toks,
             CAST(row_number() OVER (
               PARTITION BY bucket ORDER BY len(toks) DESC, d, c
             ) AS INTEGER) AS rk
      FROM ch
    ), nit AS MATERIALIZED (
      SELECT bucket, CAST(count(*) AS INTEGER) AS n FROM it GROUP BY bucket
    ), rec AS (
      -- one BFD placement per recursion step and bucket; DuckDB 1.0
      -- resolves a nested INDEXED lambda's index to the outer
      -- lambda's (tested), so the best-bin choice is expressed
      -- index-free: best remaining capacity via list_sort, its bin
      -- as the FIRST list_position match (= min rem, tie lowest
      -- index — exactly the Spark fold's array_min struct order)
      SELECT bucket, 0 AS step,
             CAST([] AS STRUCT(rem INTEGER, refs INTEGER[])[]) AS bins
      FROM nit
      UNION ALL
      SELECT r.bucket, r.step + 1,
        CASE WHEN list_position(
               list_transform(r.bins, b -> b.rem),
               list_sort(list_filter(list_transform(r.bins, b -> b.rem),
                                     x -> x >= i.sz))[1]) IS NULL
          THEN list_append(r.bins,
                 {'rem': CAST(64 - i.sz AS INTEGER),
                  'refs': [CAST(i.rk AS INTEGER)]})
          ELSE list_transform(r.bins, (b, j) ->
            CASE WHEN j = list_position(
                   list_transform(r.bins, b2 -> b2.rem),
                   list_sort(list_filter(
                     list_transform(r.bins, b2 -> b2.rem),
                     x -> x >= i.sz))[1])
              THEN {'rem': CAST(b.rem - i.sz AS INTEGER),
                    'refs': list_append(b.refs, CAST(i.rk AS INTEGER))}
              ELSE b END)
        END AS bins
      FROM rec r JOIN it i ON i.bucket = r.bucket AND i.rk = r.step + 1
    ), fin AS (
      SELECT r.bucket, r.bins FROM rec r JOIN nit USING (bucket)
      WHERE r.step = nit.n
    ), bx AS (
      SELECT bucket, CAST(u.x.j - 1 AS BIGINT) AS bin_idx,
             u.x.b.refs AS refs
      FROM fin, UNNEST(list_transform(bins, (b, j) -> {'j': j, 'b': b}))
           AS u(x)
    ), asg AS (
      SELECT bucket, bin_idx, u.y.p AS p, u.y.rk AS rk
      FROM bx, UNNEST(list_transform(refs, (r2, p2) -> {'p': p2, 'rk': r2}))
           AS u(y)
    ), merged AS (
      SELECT a.bucket, a.bin_idx, flatten(list(i.toks ORDER BY a.p)) AS w
      FROM asg a JOIN it i ON i.bucket = a.bucket AND i.rk = a.rk
      GROUP BY a.bucket, a.bin_idx
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, bin_idx,
           CAST(len(w) AS BIGINT) AS n_tokens,
           CAST(len(w) * 1000 // 64 AS BIGINT) AS fill_milli,
           array_to_string(w, ' ') AS token_ids
    FROM merged
    """,
)
def t_pack_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FEWER-TRUNCATIONS packing (text.pack_sequences_bestfit):
    best-fit-decreasing bin packing of whole documents into 64-token
    bins (Ding et al. 2024) — no document is ever split across
    training sequences (only >seq_len docs pre-chunk), the property
    the concat packer t_seq_pack cannot offer; BFD keeps pad slack
    near-optimal. Same fixture (ids = token lengths), same
    deterministic buckets; the ENTIRE placement is one aggregate fold
    over the size-sorted item array (state = bins of item-index
    references, O(items)), assembly resolves references with O(1)
    element_at — ONE exchange, zero UDF, the pack_sequences plan
    shape. The oracle replays the identical BFD loop as a recursive
    CTE (one placement per step) — bucket, order, tie-breaks, and
    bin contents must match token-for-token. Utilization vs the
    concat packer is receipted in BENCH_pack.json."""
    d = Catalog(spark, sf_dir).documents
    ids = d.select(
        "doc_id",
        F.transform(
            T.tokens("text"), lambda t: F.length(t).cast("int")
        ).alias("tid"),
    )
    return T.pack_sequences_bestfit(
        ids, "doc_id", "tid", seq_len=64, eos_id=0, n_buckets=16
    )


@query(
    "t_seq_shuffle",
    """
    WITH ids AS (
      SELECT doc_id,
             list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
                            t -> CAST(length(t) AS INTEGER)) AS tid
      FROM documents
    ), b AS (
      SELECT doc_id % 16 AS bucket, doc_id,
             list_append(tid, 0) AS t2
      FROM ids
    ), g AS (
      SELECT bucket,
             flatten(list_transform(
               list_sort(list(struct_pack(d := doc_id, t := t2))),
               s -> s.t)) AS stream
      FROM b GROUP BY bucket
    ), seqs AS (
      SELECT bucket, i.i AS seq_idx,
             list_slice(stream, i.i * 64 + 1, i.i * 64 + 64) AS w
      FROM g, unnest(range(0, len(stream) // 64)) AS i(i)
    )
    SELECT CAST(row_number() OVER (
             ORDER BY md5('42:' || md5(CAST(bucket AS VARCHAR)) || ':'
                          || md5(CAST(seq_idx AS VARCHAR))),
                      bucket, seq_idx) - 1 AS BIGINT) AS epoch_pos,
           CAST(bucket AS BIGINT) AS bucket,
           CAST(seq_idx AS BIGINT) AS seq_idx,
           CAST(len(w) AS BIGINT) AS n_tokens,
           array_to_string(w, ' ') AS token_ids
    FROM seqs
    """,
)
def t_seq_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle (text.epoch_shuffle) over the
    packed training sequences — the seeded reproducible permutation a
    training loader replays for checkpoint-resume: order key =
    md5(seed ':' md5(bucket) ':' md5(seq_idx)), realized as a hash-ordered
    repartitionByRange (ONE range exchange, hash keys are uniform so
    ranges balance under any input skew) plus per-partition numbering
    with broadcast offsets (keys.assign_sequential_ids) — never a
    global window. Same seed ⇒ bit-identical epoch_pos on any
    cluster size (the property the oracle pins: DuckDB derives the
    identical md5 order with a row_number), different seed ⇒
    decorrelated order (property-tested). Same packing fixture as
    t_seq_pack, seed=42."""
    d = Catalog(spark, sf_dir).documents
    ids = d.select(
        "doc_id",
        F.transform(
            T.tokens("text"), lambda t: F.length(t).cast("int")
        ).alias("tid"),
    )
    packed = T.pack_sequences(
        ids, "doc_id", "tid", seq_len=64, eos_id=0, n_buckets=16
    )
    return T.epoch_shuffle(
        packed, key_cols=["bucket", "seq_idx"], seed=42
    ).select("epoch_pos", "bucket", "seq_idx", "n_tokens", "token_ids")


@query(
    "t_loader_shards",
    """
    WITH ids AS (
      SELECT doc_id,
             list_transform(regexp_extract_all(lower(text), '[a-z0-9]+'),
                            t -> CAST(length(t) AS INTEGER)) AS tid
      FROM documents
    ), b AS (
      SELECT doc_id % 16 AS bucket, doc_id,
             list_append(tid, 0) AS t2
      FROM ids
    ), g AS (
      SELECT bucket,
             flatten(list_transform(
               list_sort(list(struct_pack(d := doc_id, t := t2))),
               s -> s.t)) AS stream
      FROM b GROUP BY bucket
    ), seqs AS (
      SELECT bucket, i.i AS seq_idx,
             list_slice(stream, i.i * 64 + 1, i.i * 64 + 64) AS w
      FROM g, unnest(range(0, len(stream) // 64)) AS i(i)
    ), shuffled AS (
      SELECT CAST(row_number() OVER (
               ORDER BY md5('42:' || md5(CAST(bucket AS VARCHAR)) || ':'
                            || md5(CAST(seq_idx AS VARCHAR))),
                        bucket, seq_idx) - 1 AS BIGINT) AS epoch_pos,
             array_to_string(w, ' ') AS token_ids
      FROM seqs
    )
    SELECT CAST(epoch_pos // 32 AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_seqs,
           CAST(min(epoch_pos) AS BIGINT) AS first_pos,
           CAST(max(epoch_pos) AS BIGINT) AS last_pos,
           md5(string_agg(md5(CASE WHEN token_ids IS NULL
                                 THEN 'null:' ELSE 'v:' || token_ids END),
                          '' ORDER BY epoch_pos))
             AS shard_digest
    FROM shuffled GROUP BY (epoch_pos // 32)
    """,
)
def t_loader_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loader-shard manifest (text.loader_shards) closing the
    training-data chain: token ids → pack_sequences → epoch_shuffle
    (seed 42) → fixed-size shards of 32 consecutive epoch positions,
    each with an ORDER-SENSITIVE md5 digest over its sequences — the
    resume receipt a training job checks before re-reading a shard.
    Shard id is a pure projection over the shuffled positions; ONE
    further exchange (the shard groupBy) with per-shard state bounded
    by shard_size. The oracle replays the whole chain (packing,
    md5-order permutation, shard digests) bit-for-bit."""
    d = Catalog(spark, sf_dir).documents
    ids = d.select(
        "doc_id",
        F.transform(
            T.tokens("text"), lambda t: F.length(t).cast("int")
        ).alias("tid"),
    )
    packed = T.pack_sequences(
        ids, "doc_id", "tid", seq_len=64, eos_id=0, n_buckets=16
    )
    shuffled = T.epoch_shuffle(packed, ["bucket", "seq_idx"], seed=42)
    return T.loader_shards(
        shuffled, "epoch_pos", "token_ids", shard_size=32
    )


def _bpe_train_oracle(rounds: int = 8) -> str:
    """Unrolled DuckDB mirror of text.bpe_train: the same one-pass
    word count, then per round — pair counts by zip-adjacent over the
    symbolized vocabulary, argmax with the (cnt DESC, l, r) tie-break,
    and the chosen pair applied everywhere via the same
    fixed-pass replace chain (scalar subqueries carry the round's
    winner into the replaces). AS MATERIALIZED throughout: each CTE
    is referenced by the next round AND the final union, and DuckDB
    would otherwise inline the whole chain combinatorially."""
    parts = [
        """
    WITH wc AS MATERIALIZED (
      SELECT w, count(*) AS n
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
              AS w FROM documents)
      GROUP BY w
    ), v0 AS MATERIALIZED (
      SELECT w, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS sym, n
      FROM wc
    )"""
    ]
    for i in range(1, rounds + 1):
        prev = f"v{i - 1}"
        rep = "sym"
        for _ in range(T._BPE_PASSES):
            rep = (
                f"replace({rep}, (SELECT ' '||l||' '||r||' ' FROM b{i}), "
                f"(SELECT ' '||l||r||' ' FROM b{i}))"
            )
        parts.append(f""", p{i} AS MATERIALIZED (
      SELECT l, r, CAST(sum(n) AS BIGINT) AS cnt FROM (
        SELECT v.n, v.syms[j] AS l, v.syms[j + 1] AS r
        FROM (SELECT n, string_split(trim(sym), ' ') AS syms FROM {prev}) v,
             range(1, 64) t(j)
        WHERE j < len(v.syms)
      ) GROUP BY l, r
    ), b{i} AS MATERIALIZED (
      SELECT l, r, cnt FROM p{i} ORDER BY cnt DESC, l, r LIMIT 1
    ), v{i} AS MATERIALIZED (
      SELECT w, {rep} AS sym, n FROM {prev}
    )""")
    finals = " UNION ALL ".join(
        f"SELECT {i} AS rank, l, r, cnt FROM b{i}"
        for i in range(1, rounds + 1)
    )
    parts.append(f"""
    SELECT CAST(rank AS BIGINT) AS rank, l AS left, r AS right,
           cnt AS pair_count
    FROM ({finals})
    """)
    return "".join(parts)


@query("t_bpe_train", _bpe_train_oracle())
def t_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE TRAINING (text.bpe_train, Sennrich et al.
    2016) — the tokenizer-LEARNING half next to the encode paths: 8
    merges learned from the corpus. The corpus is touched exactly
    once (token explode + word count — the only corpus-sized
    exchange); every round then runs on the dimension-sized
    vocabulary: narrow pair explode, one tiny aggregate, a 1-row
    argmax collect (count desc, lexicographic tie-break), and a
    localCheckpointed replace-chain update — the graph.py loop
    discipline, so lineage stays flat across rounds. The oracle
    unrolls all 8 rounds in SQL (scalar subqueries carry each
    winner into the next round's replaces), so a hash match proves
    the full iterative training trajectory, not just the last
    state. The learned table feeds bpe_encoded_word_sql/bpe_token_count
    directly. mode='distributed' pins THIS query to the vocabulary-
    resident round machinery (the default auto mode would collect
    the dimension-sized vocab and train driver-side — that path has
    its own oracle row, t_bpe_train_incremental)."""
    d = Catalog(spark, sf_dir).documents
    merges, _ = T.bpe_train(d, "text", n_merges=8, mode="distributed")
    return spark.createDataFrame(
        [(i + 1, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "rank long, left string, right string, pair_count long",
    )


@query("t_bpe_train_batched", _bpe_train_oracle(rounds=14))
def t_bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH-COMPATIBLE distributed BPE training — the device that
    takes a GPT-2-class 50k-merge vocabulary from ~50k sequential
    vocabulary-sized driver rounds down to hundreds
    (BENCH_bpe_train.json: 50k merges in a few hundred rounds on the
    flat-tail synthetic): per round the driver collects the
    top-batch_cap stale pair counts plus per-candidate triple bounds
    and accepts the longest candidate PREFIX whose sequential
    schedule is PROVABLE from those statistics alone
    (text._select_compatible_batch — count invariance via
    zero-linking-triples, created-pair/residual domination via the
    triple bound, conflation via the output-collision flag). 14
    merges here so multiple multi-merge rounds actually fire (6
    rounds at both test SFs — asserted, so this row fails if
    batching ever stops engaging); the oracle unrolls the SEQUENTIAL
    trainer 14 rounds in SQL, so a hash match proves the batched
    schedule reproduces the one-recount-per-merge trajectory
    exactly — equality is the theorem the selection rule enforces,
    and this row re-proves it against DuckDB every round."""
    d = Catalog(spark, sf_dir).documents
    stats: dict = {}
    merges, _ = T.bpe_train(
        d, "text", n_merges=14, min_count=2, stats=stats,
        mode="distributed",
    )
    assert stats["rounds"] < len(merges), (
        "batching did not engage",
        stats,
    )
    return spark.createDataFrame(
        [(i + 1, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "rank long, left string, right string, pair_count long",
    )


@query("t_bpe_train_incremental", _bpe_train_oracle(rounds=14))
def t_bpe_train_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-SIDE INCREMENTAL BPE training (text.bpe_train
    mode='driver' → bpe_train_incremental_reference) — the
    pair-count delta-maintenance engine production tokenizer
    trainers ship: one corpus-sized exchange folds the corpus into a
    dimension-sized (wordform, count) table, that table collects
    (bounded, refused loudly past driver_vocab_max), and every merge
    thereafter costs O(affected occurrences) with ZERO Spark jobs —
    the device that makes the merge count irrelevant on
    Zipf-distributed corpora where the batched scheduler's provable
    prefix collapses to p50 batch = 2 (BENCH_bpe_train.json: the
    Zipf-head tier's 2000 merges cost 583 vocabulary-sized rounds
    batched vs ~2 s total driver-side). The oracle unrolls the
    SEQUENTIAL trainer 14 rounds in SQL — a hash match proves the
    delta-maintained heap walks the exact argmax/tie-break/stop
    trajectory of the one-recount-per-merge algorithm."""
    d = Catalog(spark, sf_dir).documents
    stats: dict = {}
    merges, _ = T.bpe_train(
        d, "text", n_merges=14, min_count=2, stats=stats, mode="driver"
    )
    assert stats["mode"] == "driver" and stats["rounds"] == 0, stats
    return spark.createDataFrame(
        [(i + 1, a, b, n) for i, (a, b, n) in enumerate(merges)],
        "rank long, left string, right string, pair_count long",
    )


def _unigram_oracle(
    rounds: int = 3,
    vocab_size: int = 56,
    seed_size: int = 120,
    max_piece_len: int = 4,
    seed_min_count: int = 2,
    max_word_len: int = 16,
    encode: bool = False,
) -> str:
    """Recursive-CTE DuckDB mirror of operators/unigram.unigram_train
    (and, with ``encode=True``, of unigram_token_ids): the same word
    counts, substring seeding, per-round no-libm Q16 log costs
    (ilog2_q16's integer squaring recurrence as a recursive CTE over
    HUGEINTs — bit-identical to the Python helper), Viterbi via FULL
    segmentation enumeration (a recursive CTE walking word positions;
    the DP's local smallest-predecessor tie-break equals the global
    (cost, #pieces, reversed-boundary-list lexicographic) minimum the
    window sorts by), usage re-counts, and the linear prune schedule.
    AS MATERIALIZED throughout — every CTE feeds the next round AND
    the final select, and DuckDB would otherwise inline the chain
    combinatorially (the d6/PageRank rule)."""
    P62 = str(1 << 62)
    P63 = str(1 << 63)

    def ilog(tag: str, vocab: str) -> str:
        """cost table for ``vocab``(piece, cnt): the exact integer
        squaring recurrence of unigram.ilog2_q16."""
        return f""", tot{tag} AS MATERIALIZED (
      SELECT CAST(sum(cnt) AS BIGINT) AS T FROM {vocab}
    ), norm{tag} AS MATERIALIZED (
      SELECT piece,
             CASE WHEN T::HUGEINT >= cnt::HUGEINT * pe.v THEN e0
                  ELSE e0 - 1 END AS e,
             (T::HUGEINT * ps.v) // cnt AS X
      FROM (
        SELECT piece, cnt, T,
               length(format('{{:b}}', T)) - length(format('{{:b}}', cnt))
                 AS e0
        FROM {vocab}, tot{tag}
      ) n
      JOIN pow2 pe ON pe.k = n.e0
      JOIN pow2 ps ON ps.k = 62 - (CASE WHEN n.T::HUGEINT >=
            n.cnt::HUGEINT * pe.v THEN n.e0 ELSE n.e0 - 1 END)
    ), ilog{tag}(piece, e, k, X, frac) AS (
      SELECT piece, e, 0, X, CAST(0 AS BIGINT) FROM norm{tag}
      UNION ALL
      SELECT piece, e, k + 1,
             CASE WHEN Xs >= {P63}::HUGEINT THEN Xs // 2 ELSE Xs END,
             frac * 2 + CASE WHEN Xs >= {P63}::HUGEINT THEN 1 ELSE 0 END
      FROM (SELECT piece, e, k, (X * X) // {P62}::HUGEINT AS Xs, frac
            FROM ilog{tag} WHERE k < 16)
    ), cost{tag} AS MATERIALIZED (
      SELECT piece, CAST(e * 65536 + frac AS BIGINT) AS cost
      FROM ilog{tag} WHERE k = 16
    )"""

    def viterbi(tag: str, words: str, cost: str) -> str:
        """best segmentation per word of ``words``(w) under
        ``cost``(piece, cost): enumerate all segmentations (recursive
        walk over positions), rank by the spec's global key."""
        return f""", segs{tag}(w, pos, cost, np, bounds) AS (
      SELECT w, 0, CAST(0 AS BIGINT), 0, []::BIGINT[] FROM {words}
      UNION ALL
      SELECT s.w, s.pos + length(c.piece), s.cost + c.cost, s.np + 1,
             list_append(s.bounds, s.pos)
      FROM segs{tag} s JOIN {cost} c
        ON s.pos + length(c.piece) <= length(s.w)
       AND substr(s.w, s.pos + 1, length(c.piece)) = c.piece
    ), best{tag} AS MATERIALIZED (
      SELECT w, bounds FROM (
        SELECT w, bounds,
               row_number() OVER (
                 PARTITION BY w
                 ORDER BY cost, np, list_reverse(bounds[2:])
               ) AS rn
        FROM segs{tag} WHERE pos = length(w)
      ) WHERE rn = 1
    ), pieces{tag} AS MATERIALIZED (
      SELECT w, b,
             substr(w, b + 1,
                    CAST(coalesce(lead(b) OVER (PARTITION BY w ORDER BY b),
                                  length(w)) - b AS INT)) AS piece
      FROM (SELECT w, unnest(bounds) AS b FROM best{tag})
    )"""

    parts = [
        f"""
    WITH RECURSIVE pow2(k, v) AS (
      SELECT 0, 1::HUGEINT UNION ALL SELECT k + 1, v * 2
      FROM pow2 WHERE k < 120
    ), wc AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
              AS w FROM documents)
      WHERE length(w) <= {max_word_len}
      GROUP BY w
    ), subs AS MATERIALIZED (
      SELECT piece, CAST(sum(n) AS BIGINT) AS cnt FROM (
        SELECT substr(w, i.i, k.k) AS piece, n
        FROM wc,
             (SELECT unnest(range(1, {max_word_len} + 1)) AS i) i,
             (SELECT unnest(range(1, {max_piece_len} + 1)) AS k) k
        WHERE i.i + k.k - 1 <= length(w)
      ) GROUP BY piece
    ), chars0 AS MATERIALIZED (
      SELECT piece, cnt FROM subs WHERE length(piece) = 1
    ), vocab0 AS MATERIALIZED (
      SELECT piece, cnt FROM chars0
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt,
               row_number() OVER (ORDER BY cnt DESC, piece) AS rn
        FROM subs WHERE length(piece) > 1 AND cnt >= {seed_min_count}
      ) WHERE rn <= {seed_size} - (SELECT count(*) FROM chars0)
    )"""
    ]
    for t in range(1, rounds + 1):
        keep = max(
            vocab_size,
            seed_size - ((seed_size - vocab_size) * t) // rounds,
        )
        parts.append(ilog(str(t), f"vocab{t - 1}"))
        parts.append(viterbi(str(t), "wc", f"cost{t}"))
        parts.append(f""", usage{t} AS MATERIALIZED (
      SELECT p.piece, CAST(sum(wc.n) AS BIGINT) AS cnt
      FROM pieces{t} p JOIN wc ON wc.w = p.w
      GROUP BY p.piece
    ), vocab{t} AS MATERIALIZED (
      SELECT c.piece, greatest(coalesce(u.cnt, 0), 1) AS cnt
      FROM chars0 c LEFT JOIN usage{t} u ON u.piece = c.piece
      UNION ALL
      SELECT piece, cnt FROM (
        SELECT piece, cnt,
               row_number() OVER (ORDER BY cnt DESC, piece) AS rn
        FROM usage{t} WHERE length(piece) > 1 AND cnt >= 1
      ) WHERE rn <= {keep} - (SELECT count(*) FROM chars0)
    )""")
    parts.append(ilog("f", f"vocab{rounds}"))
    if not encode:
        parts.append(f"""
    SELECT CAST(row_number() OVER (ORDER BY v.cnt DESC, v.piece) - 1
                AS BIGINT) AS id,
           v.piece, v.cnt, c.cost AS cost_q16
    FROM vocab{rounds} v JOIN costf c ON c.piece = v.piece
    """)
        return "".join(parts)
    # encode tail: ids by final rank, per-distinct-word best
    # segmentation under the FINAL costs, then per-doc id streams in
    # word order (range-join ordinality — this DuckDB lacks
    # WITH ORDINALITY)
    parts.append(f""", vid AS MATERIALIZED (
      SELECT piece,
             CAST(row_number() OVER (ORDER BY cnt DESC, piece) - 1
                  AS BIGINT) AS id
      FROM vocab{rounds}
    ), docws AS MATERIALIZED (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ), encw AS MATERIALIZED (
      SELECT DISTINCT w FROM (SELECT unnest(ws) AS w FROM docws)
    )""")
    parts.append(viterbi("e", "encw", "costf"))
    parts.append("""
    , wids AS MATERIALIZED (
      -- LEFT JOIN from the distinct-word frame: a word the final
      -- vocabulary cannot cover has NO piecese rows, and the engine's
      -- honest-OOV contract (unigram_token_ids) emits exactly ONE
      -- NULL element for it -> 'x' in the joined string, counted in
      -- n_tokens. coalesce mirrors that, instead of dropping the word
      -- (which would silently diverge on fixtures with uncoverable
      -- words).
      SELECT e.w, coalesce(a.ids, 'x') AS ids,
             CAST(coalesce(a.k, 1) AS BIGINT) AS k
      FROM encw e LEFT JOIN (
        SELECT p.w,
               string_agg(v.id, ' ' ORDER BY p.b) AS ids,
               CAST(count(*) AS BIGINT) AS k
        FROM piecese p JOIN vid v ON v.piece = p.piece
        GROUP BY p.w
      ) a ON a.w = e.w
    ), docw AS MATERIALIZED (
      SELECT d.doc_id, d.ws[i.i] AS w, i.i AS ord
      FROM docws d,
           (SELECT unnest(range(1,
              (SELECT coalesce(max(len(ws)), 0) FROM docws) + 1)) AS i) i
      WHERE i.i <= len(d.ws)
    )
    -- LEFT JOIN from docws so a document with zero [a-z0-9] tokens
    -- keeps its (doc_id, 0, '') row — the engine emits one for every
    -- document.
    SELECT d0.doc_id,
           CAST(coalesce(sum(w.k), 0) AS BIGINT) AS n_tokens,
           coalesce(string_agg(w.ids, ' ' ORDER BY d.ord), '')
             AS token_ids
    FROM docws d0
    LEFT JOIN docw d ON d.doc_id = d0.doc_id
    LEFT JOIN wids w ON w.w = d.w
    GROUP BY d0.doc_id
    """)
    return "".join(parts)


@query("t_unigram_train", _unigram_oracle())
def t_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed unigram-LM (SentencePiece-family) tokenizer
    TRAINING (operators/unigram.unigram_train, Kudo 2018 hard-EM
    variant) — the production tokenizer family BPE doesn't cover
    (T5/ALBERT-class), built with the bpe_train discipline: one
    corpus-sized word-count exchange, then substring seeding and
    every EM round run on the distinct-words frame (Viterbi
    segmentation as a zero-shuffle literal-map fold, usage as one
    vocabulary-keyed exchange, bounded vocabulary-sized collects).
    Costs are no-libm Q16 fixed-point logs (unigram.ilog2_q16's pure
    integer squaring recurrence), so the oracle — which re-runs the
    FULL trajectory: seeding, three rounds of cost derivation (the
    same recurrence over HUGEINTs), full-enumeration Viterbi with the
    spec tie-break, usage recounts and the linear prune schedule —
    matches bit for bit. 56-piece vocabulary from a 120-piece seed,
    3 EM rounds, pieces ≤ 4 chars."""
    d = Catalog(spark, sf_dir).documents
    vocab = U.unigram_train(
        d, "text", vocab_size=56, seed_size=120, rounds=3
    )
    return spark.createDataFrame(
        [(i, p, c, cost) for i, (p, c, cost) in enumerate(vocab)],
        "id long, piece string, cnt long, cost_q16 long",
    )


@query("t_unigram_ids", _unigram_oracle(encode=True))
def t_unigram_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram Viterbi ENCODE under the t_unigram_train vocabulary,
    via the DICTIONARY path (text.token_ids_dedup over
    unigram.unigram_token_ids): the DP fold (costs/ids as literal
    maps, zero UDF) runs once per DISTINCT wordform, broadcast-joined
    back and reassembled in word order — the zipfian dedup win
    (measured 4.8x over the per-occurrence fold at sf0.1; the direct
    per-document path stays trajectory-pinned in the suite). The
    oracle re-trains the same trajectory in SQL, then re-segments
    every distinct word under the final cost table and reassembles
    per-doc id streams — training AND encoding cross-checked in one
    row, and the oracle's encw/distinct shape now mirrors the
    engine's plan."""
    d = Catalog(spark, sf_dir).documents
    vocab = U.unigram_train(
        d, "text", vocab_size=56, seed_size=120, rounds=3
    )
    ids_df = T.token_ids_dedup(
        d, "text", lambda w: U.unigram_token_ids(w, vocab)
    )
    return ids_df.select(
        "doc_id",
        F.size("token_ids").cast("long").alias("n_tokens"),
        F.array_join(
            F.transform("token_ids", lambda i: i.cast("string")),
            " ",
            "x",
        ).alias("token_ids"),
    )


def _wordpiece_oracle(
    rounds: int = 14, min_count: int = 2, encode: bool = False
) -> str:
    """Unrolled DuckDB mirror of operators/wordpiece.wordpiece_train
    (and, with ``encode=True``, of wordpiece_token_ids): the same
    one-pass word count, ##-marked symbolization, per round — pair
    AND symbol counts by zip-adjacent/unnest, argmax by the exact
    fixed-point likelihood key ``(cnt << 100) // (lcnt·rcnt)`` (a
    HUGEINT — bit-identical to the Python score_key; see the module
    docstring's floor-collision proof) with the (l, r) ASC tie-break,
    and the winner applied everywhere via the SAME fixed-pass replace
    chain with the ##-stripped output symbol. Encode: vocab ids
    (sorted alphabet, then merge tokens by rank, first-wins dedup), a
    materialized longest-match table per (word, position), and the
    greedy walk as a LINEAR recursive CTE over it — a word whose walk
    stalls before its end is honest-OOV ('x', counted 1), and
    zero-token documents keep their rows (the unigram-oracle LEFT
    JOIN rule). AS MATERIALIZED throughout (the d6/PageRank rule)."""
    P100 = str(1 << 100)
    head = "WITH RECURSIVE" if encode else "WITH"
    parts = [
        f"""
    {head} wc AS MATERIALIZED (
      SELECT w, CAST(count(*) AS BIGINT) AS n
      FROM (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+'))
              AS w FROM documents)
      GROUP BY w
    ), v0 AS MATERIALIZED (
      SELECT w,
             ' ' || substr(w, 1, 1) || ' ' ||
             regexp_replace(substr(w, 2), '(.)', '##\\1 ', 'g') AS sym,
             n
      FROM wc
    )"""
    ]
    for i in range(1, rounds + 1):
        prev = f"v{i - 1}"
        rep = "sym"
        for _ in range(T._BPE_PASSES):
            rep = (
                f"replace({rep}, (SELECT ' '||l||' '||r||' ' FROM b{i}), "
                f"(SELECT ' '||l||substr(r, 3)||' ' FROM b{i}))"
            )
        parts.append(f""", s{i} AS MATERIALIZED (
      SELECT s, CAST(sum(n) AS BIGINT) AS cnt FROM (
        SELECT v.n, v.syms[j] AS s
        FROM (SELECT n, string_split(trim(sym), ' ') AS syms FROM {prev}) v,
             range(1, 64) t(j)
        WHERE j <= len(v.syms)
      ) GROUP BY s
    ), p{i} AS MATERIALIZED (
      SELECT l, r, CAST(sum(n) AS BIGINT) AS cnt FROM (
        SELECT v.n, v.syms[j] AS l, v.syms[j + 1] AS r
        FROM (SELECT n, string_split(trim(sym), ' ') AS syms FROM {prev}) v,
             range(1, 64) t(j)
        WHERE j < len(v.syms)
      ) GROUP BY l, r
    ), b{i} AS MATERIALIZED (
      SELECT p.l, p.r, p.cnt, sl.cnt AS lcnt, sr.cnt AS rcnt
      FROM p{i} p
      JOIN s{i} sl ON sl.s = p.l
      JOIN s{i} sr ON sr.s = p.r
      WHERE p.cnt >= {min_count}
      ORDER BY (p.cnt::HUGEINT * {P100}::HUGEINT)
                 // (sl.cnt::HUGEINT * sr.cnt::HUGEINT) DESC,
               p.l, p.r
      LIMIT 1
    ), v{i} AS MATERIALIZED (
      SELECT w, {rep} AS sym, n FROM {prev}
    )""")
    rank_union = " UNION ALL ".join(
        f"SELECT {i} AS rank, l, r, cnt, lcnt, rcnt FROM b{i}"
        for i in range(1, rounds + 1)
    )
    if not encode:
        parts.append(f"""
    SELECT CAST(rank AS BIGINT) AS rank, l AS left, r AS right,
           cnt AS pair_count, lcnt AS left_count, rcnt AS right_count
    FROM ({rank_union})
    """)
        return "".join(parts)
    parts.append(f""", alpha AS MATERIALIZED (
      SELECT DISTINCT s AS token FROM (
        SELECT v.syms[j] AS s
        FROM (SELECT string_split(trim(sym), ' ') AS syms FROM v0) v,
             range(1, 64) t(j)
        WHERE j <= len(v.syms)
      )
    ), vocabf AS MATERIALIZED (
      SELECT token,
             CAST(row_number() OVER (ORDER BY grp, ord, token) - 1
                  AS BIGINT) AS id
      FROM (
        SELECT token, grp, ord FROM (
          SELECT token, grp, ord,
                 row_number() OVER (PARTITION BY token
                                    ORDER BY grp, ord) AS rn
          FROM (
            SELECT token, 0 AS grp, 0 AS ord FROM alpha
            UNION ALL
            SELECT l || substr(r, 3) AS token, 1 AS grp, rank AS ord
            FROM ({rank_union})
          )
        ) WHERE rn = 1
      )
    ), docws AS MATERIALIZED (
      SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
      FROM documents
    ), encw AS MATERIALIZED (
      SELECT DISTINCT w FROM (SELECT unnest(ws) AS w FROM docws)
    ), lm AS MATERIALIZED (
      SELECT w, pos, id, blen FROM (
        SELECT e.w, p.pos, v.id, length(v.bare) AS blen,
               row_number() OVER (PARTITION BY e.w, p.pos
                                  ORDER BY length(v.bare) DESC) AS rn
        FROM encw e
        JOIN (SELECT unnest(range(0,
                (SELECT max(length(w)) FROM encw))) AS pos) p
          ON p.pos < length(e.w)
        JOIN (SELECT id, token,
                     CASE WHEN token LIKE '##%' THEN substr(token, 3)
                          ELSE token END AS bare,
                     (token LIKE '##%') AS iscont
              FROM vocabf) v
          ON ((p.pos = 0) = (NOT v.iscont))
         AND length(v.bare) > 0
         AND substr(e.w, p.pos + 1, length(v.bare)) = v.bare
      ) WHERE rn = 1
    ), walk(w, pos, ids, k) AS (
      SELECT w, 0, '', 0 FROM encw
      UNION ALL
      SELECT g.w, g.pos + l.blen,
             CASE WHEN g.ids = '' THEN CAST(l.id AS VARCHAR)
                  ELSE g.ids || ' ' || CAST(l.id AS VARCHAR) END,
             g.k + 1
      FROM walk g
      JOIN lm l ON l.w = g.w AND l.pos = g.pos
                AND g.pos < length(g.w)
    ), wres AS MATERIALIZED (
      SELECT e.w, coalesce(t.ids, 'x') AS ids,
             CAST(coalesce(t.k, 1) AS BIGINT) AS k
      FROM encw e LEFT JOIN (
        SELECT w, ids, k FROM walk WHERE pos = length(w)
      ) t ON t.w = e.w
    ), docw AS MATERIALIZED (
      SELECT d.doc_id, d.ws[i.i] AS w, i.i AS ord
      FROM docws d,
           (SELECT unnest(range(1,
              (SELECT coalesce(max(len(ws)), 0) FROM docws) + 1)) AS i) i
      WHERE i.i <= len(d.ws)
    )
    SELECT d0.doc_id,
           CAST(coalesce(sum(w.k), 0) AS BIGINT) AS n_tokens,
           coalesce(string_agg(w.ids, ' ' ORDER BY d.ord), '')
             AS token_ids
    FROM docws d0
    LEFT JOIN docw d ON d.doc_id = d0.doc_id
    LEFT JOIN wres w ON w.w = d.w
    GROUP BY d0.doc_id
    """)
    return "".join(parts)


@query("t_wordpiece_train", _wordpiece_oracle())
def t_wordpiece_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed WordPiece tokenizer TRAINING
    (operators/wordpiece.wordpiece_train — the BERT-family
    likelihood-greedy trainer, the THIRD production family next to
    BPE and unigram-LM), built with the bpe_train discipline: ONE
    corpus-sized word-count exchange, then delta-maintained
    driver-side merges over the dimension-sized vocabulary. The
    score — pair_count/(left_count·right_count), the unigram-LM
    likelihood gain — is compared EXACTLY via the fixed-point key
    (cnt << 100) // (lcnt·rcnt) (floor-collision-free for corpora ≤
    2^25 tokens; Python ints and DuckDB HUGEINT agree bit for bit),
    ties lexicographic. The oracle re-runs the FULL 14-round
    trajectory: symbolization, pair/symbol recounts, HUGEINT argmax
    and the fixed-pass ##-stripping replace chain. Output: (rank,
    left, right, pair_count, left_count, right_count)."""
    d = Catalog(spark, sf_dir).documents
    merges, _vocab = WP.wordpiece_train(d, "text", n_merges=14)
    return spark.createDataFrame(
        [
            (i + 1, l, r, c, ca, cb)
            for i, (l, r, c, ca, cb) in enumerate(merges)
        ],
        "rank long, left string, right string, pair_count long, "
        "left_count long, right_count long",
    )


@query("t_wordpiece_ids", _wordpiece_oracle(encode=True))
def t_wordpiece_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece greedy longest-match ENCODE
    (operators/wordpiece.wordpiece_token_ids) under the
    t_wordpiece_train vocabulary (sorted corpus alphabet + 14 merge
    tokens, first-wins dedup), via the DICTIONARY path
    (text.token_ids_dedup): every DISTINCT word walked
    longest-match-first ONCE with the vocabulary riding the plan as
    two literal maps (bare start forms / stripped continuation
    forms, zero UDF), broadcast-joined back and reassembled in word
    order; an uncoverable word contributes ONE honest-OOV NULL
    ('x', counted).
    The oracle re-trains the same trajectory in SQL, materializes
    the per-(word, position) longest-match table, walks it with a
    linear recursive CTE and reassembles per-doc id streams —
    training AND encoding cross-checked in one row."""
    d = Catalog(spark, sf_dir).documents
    merges, vocab = WP.wordpiece_train(d, "text", n_merges=14)
    ids_df = T.token_ids_dedup(
        d, "text", lambda w: WP.wordpiece_token_ids(w, vocab)
    )
    return ids_df.select(
        "doc_id",
        F.size("token_ids").cast("long").alias("n_tokens"),
        F.array_join(
            F.transform("token_ids", lambda i: i.cast("string")),
            " ",
            "x",
        ).alias("token_ids"),
    )


def _fineweb_oracle() -> str:
    return f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, source, text,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ), rep_lines AS MATERIALIZED (
      SELECT doc_id,
             list_filter(string_split(text, chr(10)),
                         l -> length(trim(l)) > 0) AS ls
      FROM toks
    ), rep_lf AS MATERIALIZED (
      SELECT doc_id,
        CASE WHEN len(ls) > 0 THEN
          (len(ls) - len(list_distinct(ls))) / CAST(len(ls) AS DOUBLE)
        ELSE 0.0 END AS dlf,
        CASE WHEN length(array_to_string(ls, '')) > 0 THEN
          (length(array_to_string(ls, ''))
           - length(array_to_string(list_distinct(ls), '')))
          / CAST(length(array_to_string(ls, '')) AS DOUBLE)
        ELSE 0.0 END AS dlcf
      FROM rep_lines
    ), rep_best AS MATERIALIZED (
      SELECT doc_id,
        CAST(coalesce(list_max(list_transform(list_distinct(
          list_transform(list_zip(t[:len(t)-1], t[2:]),
                         p -> p[1] || ' ' || p[2])),
          x -> len(list_filter(
                 list_transform(list_zip(t[:len(t)-1], t[2:]),
                                p -> p[1] || ' ' || p[2]),
                 y -> y = x)) * length(x))), 0) AS BIGINT) AS tb,
        length(array_to_string(t, ' ')) AS tok_chars
      FROM toks
    ), gate_rep AS MATERIALIZED (
      SELECT l.doc_id FROM rep_lf l JOIN rep_best b USING (doc_id)
      WHERE l.dlf <= 0.30 AND l.dlcf <= 0.20
        AND (CASE WHEN b.tok_chars > 0
                  THEN b.tb / CAST(b.tok_chars AS DOUBLE)
                  ELSE 0.0 END) <= 0.20
    ), clsw(term, weight) AS (VALUES {{cls_w}}),
    cls AS MATERIALIZED (
      SELECT tk.doc_id, sum(clsw.weight) AS sw
      FROM (SELECT doc_id, unnest(t) AS term FROM toks) tk
      JOIN clsw USING (term)
      GROUP BY tk.doc_id
    ), {{lang_sql}},
    bpe AS MATERIALIZED (
      SELECT doc_id,
        CAST(coalesce(list_sum(
                 list_transform(t, w ->
                   length({{bpe_enc}})
                   - length(replace({{bpe_enc}}, ' ', '')) - 1)),
               0) AS BIGINT) AS bpe_tokens
      FROM toks
    ), sel AS (
      SELECT d.doc_id, d.source, l.lang_pred,
             CAST(coalesce(c.sw, 0) AS BIGINT) AS margin, b.bpe_tokens
      FROM toks d
      JOIN gate_rep USING (doc_id)
      LEFT JOIN cls c USING (doc_id)
      JOIN lang_pred_t l USING (doc_id)
      JOIN bpe b USING (doc_id)
      WHERE coalesce(c.sw, 0) > 0 AND l.lang_pred = 'en'
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY source
               ORDER BY {{h60}}, doc_id) AS rk
      FROM sel
    )
    SELECT doc_id, source, lang_pred, margin, bpe_tokens
    FROM ranked WHERE rk <= 20
    """.format(
        cls_w=_CLS_W_SQL,
        lang_sql=_lang_pred_sql("toks", "text"),
        bpe_enc=_bpe_sql_encode("w"),
        h60=_HASH60.format(salt="fineweb", key="doc_id"),
    )


@query("t_fineweb_pipeline", _fineweb_oracle())
def t_fineweb_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END FineWeb/CCNet-style curation in ONE lazy plan — the
    composition a pre-training data team actually ships: Gopher
    repetition gate (rule-based, zero shuffle) → fastText-shape
    quality classifier (broadcast weights, per-doc margin sum) →
    char-n-gram language ID, keep English (broadcast gram weights,
    per-doc sums) → REAL BPE token counting (compiled merge chain,
    zero shuffle) → deterministic ≤20-docs-per-source cap
    (stratified_take, map-side WindowGroupLimit). Four exchanges
    total at any corpus size: the two score aggregates, their id
    joins back onto the spine (AQE-coalesced), and the cap window —
    every per-row stage is codegen Columns. The oracle recomputes
    the ENTIRE chain (each stage's fragment mirrors its standalone
    oracle), so one hash match certifies the composition, not just
    the parts."""
    d = Catalog(spark, sf_dir).documents
    toked = d.select(
        "doc_id", "source", "text", T.tokens("text").alias("_toks")
    )
    flags = T.gopher_repetition_flags("text", toks=F.col("_toks"))
    gated = toked.filter(flags["gopher_rep_pass"])
    cls = T.classifier_margin(d, "doc_id", "text")
    lang = T.lang_id_ngram(d, "doc_id", "text")
    scored = (
        gated.join(cls.filter("keep").select("doc_id", "margin"), "doc_id")
        .join(lang.filter(F.col("lang_pred") == "en"), "doc_id")
        .select(
            "doc_id",
            "source",
            "lang_pred",
            "margin",
            T.bpe_token_count("text", toks="_toks").alias(
                "bpe_tokens"
            ),
        )
    )
    from mongodb_etl_migration_spark.operators import sampling as SM

    return SM.stratified_take(
        scored, ["source"], 20, "doc_id", salt="fineweb"
    ).select("doc_id", "source", "lang_pred", "margin", "bpe_tokens")


@query(
    "t_span_removal",
    f"""
    WITH {_span_fixture_src_sql(None)},
    {_KGRAM_DETECTION_SQL}, {_SPAN_ISLANDS_SQL}{_SPAN_REMOVAL_TAIL_SQL}
    """,
)
def t_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr REMOVAL (text.remove_duplicated_spans) — the
    acted-on form of the Lee-et-al signal: the duplicated regions
    t_dup_spans detects are CUT out of every document (doubled docs
    lose their duplication, the shared boilerplate tail vanishes from
    every carrier, untouched docs pass through byte-identical with
    n_removed = 0). Per-document interval arrays (duplicate-region-
    sized) join back on id — the pass's one corpus exchange beyond
    detection — and the cut is a zero-shuffle indexed transform
    against the row's own intervals. Same fixture as t_dup_spans, so
    the oracle extends the proven detection chain with the removal
    CTEs and the hash certifies detection AND surgery."""
    d = Catalog(spark, sf_dir).documents
    src = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        )
        .when(
            F.col("doc_id") % 6 == 3,
            F.concat(
                F.col("text"),
                F.lit(
                    " subscribe to our newsletter for daily updates today"
                ),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text2"),
    )
    return T.remove_duplicated_spans(src, "doc_id", "text2")


@query(
    "v4_table_diff",
    """
    WITH r AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 89 = 0 THEN 'X'
                  ELSE o_orderstatus END AS o_orderstatus
      FROM orders WHERE o_orderkey % 97 <> 0
    )
    SELECT coalesce(l.o_orderkey, r.o_orderkey) AS o_orderkey,
           CASE WHEN r.o_orderkey IS NULL THEN 'removed'
                WHEN l.o_orderkey IS NULL THEN 'added'
                ELSE 'changed' END AS status
    FROM orders l FULL OUTER JOIN r ON l.o_orderkey = r.o_orderkey
    WHERE r.o_orderkey IS NULL OR l.o_orderkey IS NULL
       OR l.o_custkey <> r.o_custkey
       OR l.o_orderstatus <> r.o_orderstatus
    """,
)
def v4_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level migration diff (validation.table_diff) — names WHICH
    keys drifted when v3's checksums disagree, so re-migration is
    targeted. Fixture: the 'migrated' side deterministically drops
    o_orderkey % 97 == 0 (lost rows → 'removed') and corrupts
    o_orderstatus where % 89 == 0 (→ 'changed'). Content compares as
    one md5 per side regardless of column count; unchanged rows are
    filtered before output so result size is bounded by the drift.
    The oracle compares raw columns instead of hashes — equality of
    the length-prefixed serialization is equality of the fields."""
    o = Catalog(spark, sf_dir).orders
    left = o.select("o_orderkey", "o_custkey", "o_orderstatus")
    right = o.filter(F.col("o_orderkey") % 97 != 0).select(
        "o_orderkey",
        "o_custkey",
        F.when(F.col("o_orderkey") % 89 == 0, F.lit("X"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
    )
    return V.table_diff(
        left, right, ["o_orderkey"], ["o_custkey", "o_orderstatus"]
    )


@query(
    "j19_record_linkage",
    """
    WITH dirty AS (
      SELECT c_custkey + 1000000 AS crm_key,
             c_nationkey AS crm_nation,
             CASE WHEN c_custkey % 3 = 0
                  THEN substring(c_name, 1, 9) || substring(c_name, 11)
                  WHEN c_custkey % 3 = 1
                  THEN substring(c_name, 1, 10) || substring(c_name, 10)
                  ELSE c_name END AS crm_name
      FROM customer
    ), p1 AS (
      SELECT c.c_custkey, d.crm_key, c.c_name, d.crm_name
      FROM customer c JOIN dirty d
        ON c.c_nationkey = d.crm_nation
       AND right(lower(c.c_name), 4) = right(lower(d.crm_name), 4)
    ), p2 AS (
      SELECT c.c_custkey, d.crm_key, c.c_name, d.crm_name
      FROM customer c JOIN dirty d
        ON c.c_nationkey = d.crm_nation
       AND right(lower(c.c_name), 6) = right(lower(d.crm_name), 6)
    ), cand AS (
      SELECT DISTINCT c_custkey, crm_key, c_name, crm_name
      FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2)
    )
    SELECT c_custkey, crm_key,
           CAST(levenshtein(c_name, crm_name) AS BIGINT) AS edit_distance
    FROM cand
    WHERE levenshtein(c_name, crm_name) <= 2
    """,
)
def j19_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage / entity resolution (linkage.record_linkage —
    Fellegi-Sunter blocking+comparison shape): match customers
    against a deterministically-corrupted 'CRM' copy (every third
    name drops its 10th character, every third duplicates it — the
    v4_table_diff fixture discipline) via TWO blocking passes (nation
    + 4-char suffix, nation + 6-char suffix — nested keys, so the
    dedup-across-passes path is exercised on every true match while
    block sizes stay bounded by key entropy; a low-entropy fragment
    key here degenerates into quadratic blocks, the classic blocking
    mistake), pair dedup, then a
    Levenshtein ≤ 2 gate. Candidate pairs exist only where a blocking
    key collides — Σ block² comparisons, never |a|·|b| — and each
    pass is a plain hash equi-join. Ambiguous near-matches (a
    corrupted name within distance 2 of a DIFFERENT customer) are
    kept: that is the honest linkage output a downstream
    clerical-review or CC step consumes."""
    from mongodb_etl_migration_spark.operators.linkage import record_linkage

    c = Catalog(spark, sf_dir).customer
    dirty = c.select(
        (F.col("c_custkey") + 1000000).alias("crm_key"),
        F.col("c_nationkey").alias("crm_nation"),
        F.when(
            F.col("c_custkey") % 3 == 0,
            F.concat(
                F.expr("substring(c_name, 1, 9)"),
                F.expr("substring(c_name, 11)"),
            ),
        )
        .when(
            F.col("c_custkey") % 3 == 1,
            F.concat(
                F.expr("substring(c_name, 1, 10)"),
                F.expr("substring(c_name, 10)"),
            ),
        )
        .otherwise(F.col("c_name"))
        .alias("crm_name"),
    )
    return record_linkage(
        c,
        dirty,
        "c_custkey",
        "crm_key",
        "c_name",
        "crm_name",
        block_passes=[
            (
                "concat(c_nationkey, '#', right(lower(c_name), 4))",
                "concat(crm_nation, '#', right(lower(crm_name), 4))",
            ),
            (
                "concat(c_nationkey, '#', right(lower(c_name), 6))",
                "concat(crm_nation, '#', right(lower(crm_name), 6))",
            ),
        ],
        max_edit=2,
    )


@query(
    "a35_rank_analytics",
    """
    SELECT c_nationkey, c_custkey,
           rank() OVER w1 AS rnk,
           dense_rank() OVER w1 AS drnk,
           CAST(percent_rank() OVER w1 AS DOUBLE) AS prnk,
           CAST(cume_dist() OVER w1 AS DOUBLE) AS cdist,
           ntile(4) OVER w2 AS quartile
    FROM customer
    WINDOW w1 AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC),
           w2 AS (PARTITION BY c_nationkey
                  ORDER BY c_acctbal DESC, c_custkey)
    """,
)
def a35_rank_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-family window analytics per group — rank / dense_rank /
    percent_rank / cume_dist / ntile(4), the leaderboard-and-quantile
    -band report shape. One exchange on the partition key serves all
    five functions (same window partitioning; Spark collapses the two
    specs into one sort). Determinism discipline: the rank family
    orders by the value alone (tie handling is SQL-standard and
    engine-identical — percent_rank = (rank−1)/(N−1), cume_dist =
    |≤|/N, both exact IEEE divisions of integers); ntile instead
    REQUIRES a total order (its assignment depends on physical row
    order under ties), so its window adds the unique key as
    tie-break."""
    from pyspark.sql import Window

    c = Catalog(spark, sf_dir).customer
    w1 = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc()
    )
    w2 = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return c.select(
        "c_nationkey",
        "c_custkey",
        F.rank().over(w1).alias("rnk"),
        F.dense_rank().over(w1).alias("drnk"),
        F.percent_rank().over(w1).cast("double").alias("prnk"),
        F.cume_dist().over(w1).cast("double").alias("cdist"),
        F.ntile(4).over(w2).alias("quartile"),
    )


@query(
    "a36_pareto_offers",
    """
    WITH offers AS (
      SELECT l.l_partkey, l.l_orderkey, l.l_linenumber,
             l.l_extendedprice AS price,
             CAST(l.l_quantity AS BIGINT) AS qty
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
                 AND p.p_brand = 'Brand#7'
    )
    SELECT a.l_partkey, a.l_orderkey, a.l_linenumber, a.price, a.qty
    FROM offers a
    WHERE NOT EXISTS (
      SELECT 1 FROM offers b
      WHERE b.l_partkey = a.l_partkey
        AND b.price <= a.price AND b.qty >= a.qty
        AND (b.price < a.price OR b.qty > a.qty)
    )
    """,
)
def a36_pareto_offers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped Pareto frontier (skyline.pareto_frontier_2d, Börzsönyi
    et al. 2001): per part, the offers no other offer beats on BOTH
    price (lower better) and quantity (higher better) — the
    multi-objective 'best offers' cut. The oracle states the textbook
    quadratic NOT-EXISTS dominance definition; the engine runs the
    single-pass sorted-window formulation instead — one exchange on
    the group key, no self-join — which is what survives 100 TB.
    Price is an untouched parquet double (byte-identical across
    engines); ties and exact duplicates follow the strict-dominance
    definition on both sides."""
    from mongodb_etl_migration_spark.operators.skyline import (
        pareto_frontier_2d,
    )

    c = Catalog(spark, sf_dir)
    offers = c.lineitem.join(
        F.broadcast(
            c.part.filter(F.col("p_brand") == "Brand#7").select("p_partkey")
        ),
        F.col("l_partkey") == F.col("p_partkey"),
    ).select(
        "l_partkey",
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("price"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    return pareto_frontier_2d(offers, ["l_partkey"], "price", "qty")


def _backoff_unrolled_sql() -> str:
    """t_backoff_lm oracle: rebuild the Stupid-Backoff counts in SQL,
    then run the fixlog2 recurrence over every scored pair as one
    MATERIALIZED CTE per step (same anti-inlining discipline as the
    DSIR oracle; DuckDB resolves same-named columns to the SOURCE
    relation, not the lateral alias, so each step's expressions all
    see the previous step's values)."""
    from mongodb_etl_migration_spark.operators.text import (
        DSIR_FRAC_BITS,
        DSIR_NORM_STEPS,
    )

    ctes = []
    prev = "sc0"
    for i in range(1, DSIR_NORM_STEPS + 1):
        ctes.append(
            f"bn{i} AS MATERIALIZED (SELECT doc_id, "
            "CASE WHEN m < 1.0 THEN m * 2.0 ELSE m END AS m, "
            "e + CASE WHEN m < 1.0 THEN 1 ELSE 0 END AS e, acc "
            f"FROM {prev})"
        )
        prev = f"bn{i}"
    for j in range(1, DSIR_FRAC_BITS + 1):
        ctes.append(
            f"bf{j} AS MATERIALIZED (SELECT doc_id, "
            "CASE WHEN (m*m) >= 2.0 THEN (m*m) / 2.0 ELSE (m*m) END AS m, "
            "e, acc * 2 + CASE WHEN (m*m) >= 2.0 THEN 1 ELSE 0 END AS acc "
            f"FROM {prev})"
        )
        prev = f"bf{j}"
    scale = 1 << DSIR_FRAC_BITS
    chain = ",\n    ".join(ctes)
    return f"""
    WITH doc AS (
      SELECT doc_id, doc_id % 2 = 0 AS tr,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS t
      FROM documents
    ), toks AS MATERIALIZED (
      SELECT doc_id, tr, unnest(t) AS tok FROM doc
    ), pairs AS MATERIALIZED (
      SELECT doc_id, tr, t[i] AS prev, t[i + 1] AS cur
      FROM doc, unnest(range(1, len(t))) AS r(i)
    ), uni AS (
      SELECT tok, count(*) AS cu FROM toks WHERE tr GROUP BY tok
    ), tot AS (
      SELECT count(*) AS n, count(DISTINCT tok) AS v
      FROM toks WHERE tr
    ), big AS (
      SELECT prev, cur, count(*) AS cb FROM pairs WHERE tr
      GROUP BY prev, cur
    ), sc0 AS MATERIALIZED (
      SELECT p.doc_id,
             CAST(CASE WHEN bg.cb IS NOT NULL THEN bg.cb
                       ELSE 2 * (coalesce(u2.cu, 0) + 1) END AS DOUBLE)
             / CAST(CASE WHEN bg.cb IS NOT NULL THEN u1.cu
                         ELSE 5 * (t.n + t.v) END AS DOUBLE) AS m,
             0 AS e, 0 AS acc
      FROM pairs p
      LEFT JOIN big bg ON bg.prev = p.prev AND bg.cur = p.cur
      LEFT JOIN uni u1 ON u1.tok = p.prev
      LEFT JOIN uni u2 ON u2.tok = p.cur
      CROSS JOIN tot t
    ),
    {chain}
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
           CAST(sum(-e * {scale} + acc) AS BIGINT) AS backoff_score
    FROM {prev} GROUP BY doc_id
    """


@query("t_backoff_lm", _backoff_unrolled_sql())
def t_backoff_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid Backoff LM document scoring (text.backoff_lm_scores —
    Brants et al. 2007): train bigram/unigram counts on the even
    doc_id half, score EVERY document's adjacent-pair fluency with
    the backoff rule (0.4 = 2/5 kept rational so every per-token
    term is fixlog2 of exact integer pairs). Held-out odd documents
    exercise the backoff branch — unseen bigrams fall to the
    add-one-smoothed unigram. The fixlog2 chain runs as zero-shuffle
    whole-stage codegen on Spark and as stepwise MATERIALIZED CTEs in
    the oracle; scores match bit-for-bit. The count-table joins are
    vocab-keyed hash joins; N and V are a two-scalar driver
    collect."""
    from mongodb_etl_migration_spark.operators import text as TX

    d = Catalog(spark, sf_dir).documents.select(
        "doc_id", "text", (F.col("doc_id") % 2 == 0).alias("is_train")
    )
    return TX.backoff_lm_scores(d, "doc_id", "text", "is_train")


def _hll_oracle_sql() -> str:
    """Rebuilds the a37 HLL registers and estimate in DuckDB: same
    md5 hash layout, same bin()-length rho (both engines render
    unpadded binary with bin(0)='0'), same BIGINT-scaled harmonic
    sum, and the SAME literal linear-counting table (math.log
    evaluated once in Python, repr-embedded in both plans — no libm
    in either engine)."""
    from mongodb_etl_migration_spark.operators.profiling import (
        HLL_A,
        _hll_linear_table,
    )

    lc = _hll_linear_table()
    # CAST each literal: a bare decimal literal parses as DECIMAL in
    # DuckDB and the CASE result would round through decimal scale.
    whens = " ".join(
        f"WHEN {v} THEN CAST({lc[v]!r} AS DOUBLE)" for v in sorted(lc)
    )
    raw = "CAST({a!r} AS DOUBLE) / CAST(z_scaled AS DOUBLE)".format(a=HLL_A)
    return f"""
    WITH h AS (
      SELECT event_type,
             CAST(('0x' || substring(
                md5('hll#' || CAST(user_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS hv
      FROM events
    ), b AS (
      SELECT event_type, hv % 64 AS bkt,
             (hv >> 6) & 1099511627775 AS w
      FROM h
    ), regs AS (
      SELECT event_type, bkt,
             max(CASE WHEN w = 0 THEN 40
                      ELSE 41 - length(bin(w)) END) AS m
      FROM b GROUP BY event_type, bkt
    ), dense AS (
      SELECT g.event_type, r.i, coalesce(regs.m, 0) AS m
      FROM (SELECT DISTINCT event_type FROM regs) g
      CROSS JOIN range(64) r(i)
      LEFT JOIN regs ON regs.event_type = g.event_type
                    AND regs.bkt = r.i
    ), agg AS (
      SELECT event_type,
             string_agg(CAST(m AS VARCHAR), '-' ORDER BY i)
               AS registers,
             CAST(sum(CASE WHEN m = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_zero,
             CAST(sum(CAST(1 AS BIGINT) << (40 - m)) AS BIGINT)
               AS z_scaled
      FROM dense GROUP BY event_type
    )
    SELECT event_type, registers, n_zero, z_scaled,
           CASE WHEN {raw} <= 160.0 AND n_zero > 0
                THEN CASE n_zero {whens} END
                ELSE {raw} END AS distinct_est
    FROM agg
    """


@query("a37_hll_registers", _hll_oracle_sql())
def a37_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """From-scratch deterministic HyperLogLog (profiling.hll_sketch,
    Flajolet et al. 2007), completing the mergeable-sketch family
    (KMV distinct / CM frequency / HLL registers): per event type,
    64 registers of per-bucket max leading-zero rank over the
    engine-portable md5 hash. Unlike a12's opaque built-in HLL++
    state (band-checked only), every byte here is oracle-verified:
    max is order-free so the registers are partition-invariant, the
    harmonic sum stays a 2^40-scaled BIGINT (float summation order
    never enters), and the estimate — including the small-range
    linear-counting branch — is IEEE ops over exact integers plus a
    literal table. The register digest IS the mergeable state:
    register-wise max of shard digests equals sketching the
    concatenation."""
    from mongodb_etl_migration_spark.operators import profiling as P

    e = Catalog(spark, sf_dir).events
    return P.hll_sketch(e, ["event_type"], "user_id")


def _dsir_unrolled_sql() -> str:
    """Unrolled fixed-point-log2 SQL mirroring text.fixlog2 STEP FOR
    STEP (same IEEE multiply/halve/compare sequence), so the oracle
    reproduces every intermediate double bit-for-bit — no libm log
    anywhere. One MATERIALIZED CTE per recurrence step: lateral
    column aliases INLINE the referenced expression, and each step
    references its predecessor twice, so an alias chain would expand
    the tree 2^64-fold (the PageRank-oracle lesson); a materialized
    256-row table per step keeps it linear."""
    from mongodb_etl_migration_spark.operators.text import (
        DSIR_FRAC_BITS,
        DSIR_NORM_STEPS,
    )

    ctes = []
    prev = "l0"
    for i in range(1, DSIR_NORM_STEPS + 1):
        cols = []
        for d in ("p", "q"):
            cols.append(
                f"CASE WHEN m{d} < 1.0 THEN m{d} * 2.0 ELSE m{d} END"
                f" AS m{d}"
            )
            cols.append(
                f"e{d} + CASE WHEN m{d} < 1.0 THEN 1 ELSE 0 END AS e{d}"
            )
        ctes.append(
            f"n{i} AS MATERIALIZED (SELECT bkt, {', '.join(cols)}, ap, aq"
            f" FROM {prev})"
        )
        prev = f"n{i}"
    for j in range(1, DSIR_FRAC_BITS + 1):
        cols = []
        for d in ("p", "q"):
            sq = f"(m{d} * m{d})"
            cols.append(
                f"CASE WHEN {sq} >= 2.0 THEN {sq} / 2.0 ELSE {sq} END"
                f" AS m{d}"
            )
            cols.append(
                f"a{d} * 2 + CASE WHEN {sq} >= 2.0 THEN 1 ELSE 0 END"
                f" AS a{d}"
            )
        ctes.append(
            f"f{j} AS MATERIALIZED (SELECT bkt, {', '.join(cols)}, ep, eq"
            f" FROM {prev})"
        )
        prev = f"f{j}"
    scale = 1 << DSIR_FRAC_BITS
    chain = ",\n    ".join(ctes)
    return f"""
    WITH toks AS (
      SELECT doc_id, lang = 'en' AS is_t,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents
    ), bk AS MATERIALIZED (
      SELECT doc_id, is_t,
             CAST(('0x' || substring(md5('dsir#' || tok), 1, 15))
               AS BIGINT) % 256 AS bkt
      FROM toks
    ), pq AS (
      SELECT bkt, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS cp,
             count(*) AS cq
      FROM bk GROUP BY bkt
    ), tot AS (
      SELECT sum(cp) AS np, sum(cq) AS nq FROM pq
    ), l0 AS MATERIALIZED (
      SELECT bkt,
             CAST(cp + 1 AS DOUBLE) / CAST(np + 256 AS DOUBLE) AS mp,
             CAST(cq + 1 AS DOUBLE) / CAST(nq + 256 AS DOUBLE) AS mq,
             0 AS ep, 0 AS eq, 0 AS ap, 0 AS aq
      FROM pq, tot
    ),
    {chain},
    lam AS (
      SELECT bkt, (-ep * {scale} + ap) - (-eq * {scale} + aq) AS lam
      FROM {prev}
    ), dc AS (
      SELECT doc_id, bkt, count(*) AS c FROM bk GROUP BY doc_id, bkt
    )
    SELECT d.doc_id, CAST(sum(d.c) AS BIGINT) AS n_tokens,
           CAST(sum(d.c * l.lam) AS BIGINT) AS dsir_score
    FROM dc d JOIN lam l USING (bkt)
    GROUP BY d.doc_id
    """


@query("t_dsir_weights", _dsir_unrolled_sql())
def t_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (text.dsir_weights — Xie et al. 2023):
    score every document by how much its hashed-token unigram
    distribution looks like the English target slice vs the whole
    corpus — the published importance-resampling selector for LLM
    pretraining data. The per-bucket log-ratio table is fixed-point
    integer (text.fixlog2: IEEE multiply/halve/compare only — no
    libm), computed from ONE ≤256-row aggregate collected to the
    driver and broadcast back as a literal map; document scoring is
    then an exact BIGINT dot product. The oracle unrolls the same
    fixed-point-log2 recurrence into a SQL expression chain and
    matches every score bit-for-bit."""
    from mongodb_etl_migration_spark.operators import text as TX

    d = Catalog(spark, sf_dir).documents.select(
        "doc_id", "text", (F.col("lang") == "en").alias("is_t")
    )
    return TX.dsir_weights(d, "doc_id", "text", "is_t", buckets=256)


@query(
    "a34_kmv_set_ops",
    """
    WITH toks AS (
      SELECT lang, source,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
      FROM documents WHERE source IN ('src0', 'src1')
    ), h AS (
      SELECT DISTINCT lang, source,
             CAST(('0x' || substring(md5('kmv#' || tok), 1, 15)) AS BIGINT)
               AS hv
      FROM toks
    ), rn AS (
      SELECT lang, source, hv,
             row_number() OVER (PARTITION BY lang, source ORDER BY hv)
               AS rn
      FROM h
    ), sk AS (
      SELECT lang, source, hv FROM rn WHERE rn <= 16
    ), u AS (
      SELECT lang, hv,
             max(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS in_b
      FROM sk GROUP BY lang, hv
    ), xr AS (
      SELECT lang, hv, in_a, in_b,
             row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn
      FROM u
    ), agg AS (
      SELECT lang, count(*) AS n_x,
             CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
             max(hv) AS kth
      FROM xr WHERE rn <= 16 GROUP BY lang
    )
    SELECT lang, CAST(n_x AS BIGINT) AS n_x, n_both,
           CASE WHEN n_x < 16 THEN CAST(n_x AS DOUBLE)
                ELSE 15.0 * 1152921504606846976.0 / CAST(kth AS DOUBLE)
           END AS union_est,
           (CAST(n_both AS DOUBLE) / CAST(n_x AS DOUBLE))
           * (CASE WHEN n_x < 16 THEN CAST(n_x AS DOUBLE)
                   ELSE 15.0 * 1152921504606846976.0
                        / CAST(kth AS DOUBLE) END) AS intersection_est,
           CAST(n_both AS DOUBLE) / CAST(n_x AS DOUBLE) AS jaccard_est
    FROM agg
    """,
)
def a34_kmv_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV multiset operations (profiling.kmv_set_ops, Beyer et al.
    2007): per language, estimate the token-vocabulary overlap of two
    corpus sources from their 16-hash bottom-k sketches ALONE — the
    sketch-level |A∪B| / |A∩B| / Jaccard a 100 TB pipeline answers
    without rescanning either source (e.g. 'how much does this new
    crawl overlap last month's?'). Bottom-k of the sketch union IS
    bottom-k of the set union, so the union estimator applies
    unchanged; ρ = shared fraction of the combined sketch is the
    Jaccard estimate; both are exact when the group is smaller than
    k. Everything downstream of the two sketches touches ≤ 2k rows
    per language."""
    from mongodb_etl_migration_spark.operators import profiling as P

    d = Catalog(spark, sf_dir).documents

    def sk(src: str) -> DataFrame:
        toks = d.filter(F.col("source") == src).select(
            "lang", F.explode(T.tokens("text")).alias("tok")
        )
        return P.kmv_sketch(toks, ["lang"], "tok", k=16)

    return P.kmv_set_ops(sk("src0"), sk("src1"), ["lang"], k=16)


# =====================================================================
# TPC-H decorrelation shapes (Q2/Q4/Q13/Q16/Q17/Q19/Q20/Q22) — the
# correlated-subquery query class, each written as the decorrelated
# join Catalyst would produce, so the optimizer's semi/anti/scalar
# subquery machinery is exercised with hand-verifiable plans.
# =====================================================================

@query(
    "a26_min_cost_supplier",
    """
    WITH eur AS (
      SELECT s.s_suppkey, s.s_name, n.n_name
      FROM supplier s
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
    ), offers AS (
      SELECT l.l_partkey, l.l_suppkey, e.s_name, e.n_name,
             min(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS best_price
      FROM lineitem l JOIN eur e ON l.l_suppkey = e.s_suppkey
      GROUP BY l.l_partkey, l.l_suppkey, e.s_name, e.n_name
    ), best AS (
      SELECT l_partkey, min(best_price) AS min_price
      FROM offers GROUP BY l_partkey
    )
    SELECT p.p_partkey, p.p_name, o.s_name, o.n_name,
           CAST(o.best_price AS DOUBLE) AS min_price
    FROM offers o
    JOIN best b ON o.l_partkey = b.l_partkey
               AND o.best_price = b.min_price
    JOIN part p ON p.p_partkey = o.l_partkey
    WHERE p.p_size = 15
    """,
)
def a26_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 SHAPE (min-cost supplier, adapted: no partsupp table,
    so the offer price is the cheapest lineitem each supplier ever
    shipped for the part): the correlated `price = (SELECT min ...)`
    subquery decorrelated into aggregate + equality self-join — the
    rewrite Catalyst's RewriteCorrelatedScalarSubquery performs,
    spelled explicitly so the plan is auditable. Supplier→nation→
    region prune broadcasts (dim-sized at any SF); the only
    fact-table exchange is the per-(part,supplier) min aggregate,
    partial-agg'd map-side; `best` re-aggregates THAT output (KB per
    part), never the fact table. Decimal min keeps the price-equality
    join exact across engines; ties return every winning supplier
    (deterministic, no arbitrary pick)."""
    c = Catalog(spark, sf_dir)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    eur = (
        c.supplier.join(
            F.broadcast(c.nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(c.region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    offers = (
        c.lineitem.select("l_partkey", "l_suppkey", price.alias("price"))
        .join(F.broadcast(eur), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey", "s_name", "n_name")
        .agg(F.min("price").alias("best_price"))
    )
    best = offers.groupBy("l_partkey").agg(
        F.min("best_price").alias("min_price")
    )
    return (
        offers.join(best, "l_partkey")
        .filter(F.col("best_price") == F.col("min_price"))
        .join(
            F.broadcast(
                c.part.filter(F.col("p_size") == 15).select(
                    "p_partkey", "p_name"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.col("min_price").cast("double").alias("min_price"),
        )
    )


@query(
    "a27_priority_pending",
    """
    SELECT o.o_orderpriority, count(*) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
    GROUP BY o.o_orderpriority
    """,
)
def a27_priority_pending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 SHAPE (priority check, adapted: the EXISTS predicate
    is 'some line came back returned' — the schema has no
    commit/receipt dates): EXISTS compiles to a LEFT SEMI join, which
    Spark executes without materializing the probe side's matches
    (first match short-circuits the row). The date filter pushes to
    the orders scan, shrinking the semi join's build input to one
    quarter; lineitem prunes to (l_orderkey) + the pushed returnflag
    filter. Output is ≤5 rows (one per priority), so the final
    aggregate is a single trivial exchange."""
    c = Catalog(spark, sf_dir)
    o = c.orders.filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    ).select("o_orderkey", "o_orderpriority")
    returned = c.lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey"
    )
    return (
        o.join(
            returned,
            F.col("o_orderkey") == F.col("l_orderkey"),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "a28_order_count_distribution",
    """
    WITH pc AS (
      SELECT c.c_custkey, count(o.o_orderkey) AS c_count
      FROM customer c
      LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                        AND o.o_orderpriority <> '1-URGENT'
      GROUP BY c.c_custkey
    )
    SELECT c_count, count(*) AS custdist
    FROM pc GROUP BY c_count
    """,
)
def a28_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 SHAPE (customer order-count distribution): LEFT
    OUTER join with an extra non-equi condition ON the join (not a
    post-filter — customers with only urgent orders must still appear
    with count 0), then a count-of-counts re-aggregation. The
    non-key predicate prunes orders before the exchange; count(o_
    orderkey) counts only matched rows (NULL-skipping count is the
    outer-join contract both engines share). The second groupBy's
    input is one row per customer — the re-aggregation exchange
    carries the histogram domain (≤ max orders per customer), not
    the fact table."""
    c = Catalog(spark, sf_dir)
    o = c.orders.filter(F.col("o_orderpriority") != "1-URGENT").select(
        "o_custkey", "o_orderkey"
    )
    per_cust = (
        c.customer.select("c_custkey")
        .join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").alias("custdist")
    )


@query(
    "a29_supplier_part_stats",
    """
    SELECT p.p_brand, p.p_type, p.p_size,
           count(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p
    JOIN lineitem l ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#5'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def a29_supplier_part_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 SHAPE (supplier diversity per part class, adapted:
    the excluded-supplier subquery keys on negative account balance —
    the schema has no comment column to grep 'Customer Complaints'
    from): NOT IN over a non-nullable key compiles to a LEFT ANTI
    join, broadcast because the exclusion list is dim-sized. The
    part filters (brand <>, size IN) push to the part scan; part
    broadcasts into lineitem. count(DISTINCT) runs as Spark's
    two-stage distinct-aggregate — partial dedup of (group, suppkey)
    map-side, so the exchange carries distinct pairs, not raw
    lineitems."""
    c = Catalog(spark, sf_dir)
    parts = c.part.filter(
        (F.col("p_brand") != "Brand#5")
        & F.col("p_size").isin([1, 4, 7, 10, 13, 16, 19, 22])
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad_supp = c.supplier.filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        c.lineitem.select("l_partkey", "l_suppkey")
        .join(
            F.broadcast(bad_supp),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "a30_small_quantity_revenue",
    """
    WITH pq AS (
      SELECT l_partkey,
             sum(CAST(l_quantity AS BIGINT)) AS sum_qty,
             count(*) AS cnt
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)))
                AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#3'
    JOIN pq ON pq.l_partkey = l.l_partkey
    WHERE CAST(l.l_quantity AS BIGINT) * 5 * pq.cnt < pq.sum_qty
    """,
)
def a30_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 SHAPE (small-quantity-order revenue): the correlated
    `l_quantity < 0.2 * (SELECT avg ...)` scalar subquery,
    decorrelated into a per-part aggregate joined back to the fact
    table — one lineitem exchange for the aggregate, one partkey-
    keyed join. The 0.2·avg threshold is evaluated INTEGER-EXACT:
    `qty * 5 * cnt < sum_qty` over exact BIGINT sums (quantities are
    integral), so no engine's float-division rounding can flip a
    boundary row — the cross-engine hazard of the naive avg()
    comparison. The decimal revenue sum converts to double once,
    then one IEEE division by 7.0 — bit-identical in both engines."""
    c = Catalog(spark, sf_dir)
    qty = F.col("l_quantity").cast("bigint")
    pq = (
        c.lineitem.groupBy("l_partkey")
        .agg(
            F.sum(qty).alias("sum_qty"),
            F.count("*").alias("cnt"),
        )
        .withColumnRenamed("l_partkey", "pq_partkey")
    )
    brand = c.part.filter(F.col("p_brand") == "Brand#3").select("p_partkey")
    return (
        c.lineitem.select(
            "l_partkey",
            qty.alias("qty"),
            F.col("l_extendedprice").cast("decimal(12,2)").alias("price"),
        )
        .join(F.broadcast(brand), F.col("l_partkey") == F.col("p_partkey"))
        .join(pq, F.col("l_partkey") == F.col("pq_partkey"))
        .filter(F.col("qty") * 5 * F.col("cnt") < F.col("sum_qty"))
        .agg(
            (F.sum("price").cast("double") / F.lit(7.0))
            .cast("double")
            .alias("avg_yearly")
        )
    )


@query(
    "a31_disjunctive_revenue",
    f"""
    SELECT CAST(sum({_REVENUE_SQL}) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
)
def a31_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 SHAPE (disjunctive predicate revenue): three OR'd
    brand/size/quantity conjunctions across BOTH join sides — the
    classic test of disjunction handling. Catalyst extracts the
    common-prefix simplifications it can (brand IN (...), size <= 15,
    quantity <= 30 as derived top-level conjuncts via
    constraint propagation) and pushes per-side fragments to each
    scan; the residual disjunction evaluates post-join inside
    whole-stage codegen. Part broadcasts (filtered to three brands);
    zero additional exchanges beyond the final single-row sum."""
    c = Catalog(spark, sf_dir)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    qty = F.col("l_quantity")
    cond = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & qty.between(20, 30)
        )
    )
    return (
        c.lineitem.join(
            F.broadcast(c.part.select("p_partkey", "p_brand", "p_size")),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .filter(cond)
        .agg(
            F.sum(price * (one - disc)).cast("double").alias("revenue")
        )
    )


@query(
    "a32_excess_suppliers",
    """
    WITH heavy AS (
      SELECT l.l_partkey, l.l_suppkey
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
                 AND p.p_name LIKE 'red%'
      GROUP BY l.l_partkey, l.l_suppkey
      HAVING sum(CAST(l.l_quantity AS BIGINT)) > 50
    )
    SELECT DISTINCT s.s_name, n.n_name
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    WHERE n.n_name IN ('NATION_3', 'NATION_7')
      AND s.s_suppkey IN (SELECT l_suppkey FROM heavy)
    """,
)
def a32_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 SHAPE (suppliers with excess stock of a part class,
    adapted: 'shipped >100 units of some red part' replaces the
    partsupp availqty predicate): NESTED subqueries — an IN whose
    subquery itself contains a HAVING aggregate over a join — run as
    aggregate → LEFT SEMI chain. The part-name LIKE prunes via
    broadcast before the per-(part,supplier) aggregate, so the only
    fact exchange carries red-part lineitems; the semi join probes
    with the tiny heavy-supplier set; nation filter broadcasts.
    DISTINCT dedups suppliers qualified by several parts."""
    c = Catalog(spark, sf_dir)
    red = c.part.filter(F.col("p_name").like("red%")).select("p_partkey")
    heavy = (
        c.lineitem.select(
            "l_partkey",
            "l_suppkey",
            F.col("l_quantity").cast("bigint").alias("qty"),
        )
        .join(F.broadcast(red), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum("qty").alias("sum_qty"))
        .filter(F.col("sum_qty") > 50)
        .select("l_suppkey")
    )
    return (
        c.supplier.join(
            F.broadcast(
                c.nation.filter(
                    F.col("n_name").isin(["NATION_3", "NATION_7"])
                )
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            heavy, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_name", "n_name")
        .distinct()
    )


@query(
    "a33_idle_customers",
    """
    WITH pos AS (
      SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) AS sum_bal,
             count(*) AS cnt
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c.c_nationkey, count(*) AS numcust,
           CAST(sum(CAST(c.c_acctbal AS DECIMAL(12,2))) AS DOUBLE)
             AS totacctbal
    FROM customer c, pos
    WHERE CAST(c.c_acctbal AS DECIMAL(12,2)) * pos.cnt > pos.sum_bal
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c.c_nationkey
    """,
)
def a33_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 SHAPE (rich customers gone idle): a scalar AVG
    subquery gating the probe side plus a NOT EXISTS anti join. The
    above-average test is INTEGER-EXACT — `bal * cnt > sum_bal` over
    exact decimal sums instead of comparing against a float average
    whose summation order differs per engine. The scalar subquery is
    evaluated as a driver collect of TWO aggregate values (O(bytes) —
    the `t_temperature_mix` discipline) and inlined as plan
    LITERALS, so the balance gate pushes into the customer scan —
    strictly better than the broadcast-cross-join form, which plans
    the banned BroadcastNestedLoopJoin. NOT EXISTS compiles to LEFT
    ANTI keyed on custkey; its date predicate pushes to the orders
    scan, so the anti build side is recent orders only. Adapted twice
    for the schema: 'never ordered' → 'no order since 2000' (the
    fixture's order fanout covers every customer), and
    group-by-nation replaces the phone-prefix cntrycode (no phone
    column)."""
    c = Catalog(spark, sf_dir)
    bal = F.col("c_acctbal").cast("decimal(12,2)")
    sum_bal, cnt = (
        c.customer.filter(F.col("c_acctbal") > 0)
        .agg(F.sum(bal).alias("sum_bal"), F.count("*").alias("cnt"))
        .head()
    )
    return (
        c.customer.select("c_custkey", "c_nationkey", bal.alias("bal"))
        .filter(
            F.col("bal") * F.lit(cnt)
            > F.lit(sum_bal).cast("decimal(22,2)")
        )
        .join(
            c.orders.filter(
                F.col("o_orderdate") >= "2000-01-01"
            ).select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.sum("bal").cast("double").alias("totacctbal"),
        )
    )


# =====================================================================
# TPC-H completion shapes (Q6/Q8/Q9/Q11/Q12/Q14/Q15) — with these the
# catalog covers all 22 TPC-H query classes (adapted where the test
# schema lacks partsupp / shipmode / commit+receipt dates). Each
# follows the a1 decimal discipline: decimal-in, decimal-through, one
# final cast to DOUBLE, so Spark and DuckDB agree bit-for-bit.
# =====================================================================

@query(
    "a38_forecast_revenue",
    """
    SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND CAST(l_discount AS DECIMAL(4,2))
            BETWEEN CAST(0.05 AS DECIMAL(4,2))
                AND CAST(0.07 AS DECIMAL(4,2))
      AND l_quantity < 24
    """,
)
def a38_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 (forecasting revenue change): the pure scan-filter-
    aggregate class — no join at all. All three predicates push to the
    parquet scan (shipdate range, quantity bound; the discount band
    compares decimal-to-decimal so neither engine does a lossy double
    comparison), the scan prunes to three columns, and the global sum
    is a partial-agg → single-row exchange. At 100 TB this is the
    I/O-bound best case: the plan's cost IS the pruned column read.
    Reference parity: validate_migration's full-table financial
    reconciliation sums (SURVEY §2 A1 family)."""
    c = Catalog(spark, sf_dir)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    lo = F.lit("0.05").cast("decimal(4,2)")
    hi = F.lit("0.07").cast("decimal(4,2)")
    return (
        c.lineitem.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & disc.between(lo, hi)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(price * disc).cast("double").alias("revenue"))
    )


@query(
    "a39_market_share",
    f"""
    WITH sales AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             {_REVENUE_SQL.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")} AS volume,
             ns.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation nc ON c.c_nationkey = nc.n_nationkey
      JOIN region r ON nc.n_regionkey = r.r_regionkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation ns ON s.s_nationkey = ns.n_nationkey
      JOIN part p ON l.l_partkey = p.p_partkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                         THEN volume END) AS DOUBLE)
             / CAST(sum(volume) AS DOUBLE) AS mkt_share
    FROM sales GROUP BY o_year
    """,
)
def a39_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 (national market share): the deep snowflake join —
    one fact table against SIX dimension hops (orders→customer→
    nation→region on the demand side, supplier→nation and part on the
    supply side). Every dimension is broadcast (each is KB–MB at any
    SF), so the fact table is never shuffled for the joins; orders is
    the only non-broadcast side and its date filter pushes to its
    scan. The share divides two exact decimal sums as one double
    division (never decimal÷decimal, whose rounding differs between
    engines). A year with no NATION_3 sales yields NULL, identically
    in both engines. Reference parity: orchestrator's per-period
    cross-source ratio reports."""
    c = Catalog(spark, sf_dir)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    nc = c.nation.select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk")
    )
    ns = c.nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    sales = (
        c.lineitem.select(
            "l_orderkey", "l_suppkey", "l_partkey",
            (price * (one - disc)).alias("volume"),
        )
        .join(
            c.orders.filter(
                (F.col("o_orderdate") >= "1996-01-01")
                & (F.col("o_orderdate") < "1998-01-01")
            ).select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(c.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("c_nk"))
        .join(
            F.broadcast(
                c.region.filter(F.col("r_name") == "AMERICA").select(
                    "r_regionkey"
                )
            ),
            F.col("c_rk") == F.col("r_regionkey"),
        )
        .join(
            F.broadcast(c.supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .join(
            F.broadcast(
                c.part.filter(F.col("p_type") == "ECONOMY").select(
                    "p_partkey"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            "volume",
            "supp_nation",
        )
    )
    target = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("volume"))
    ).cast("double")
    return sales.groupBy("o_year").agg(
        (target / F.sum("volume").cast("double")).alias("mkt_share")
    )


@query(
    "a40_product_profit",
    """
    SELECT ns.n_name AS nation,
           CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * (CAST(1 AS DECIMAL(3,2))
                         - CAST(l.l_discount AS DECIMAL(4,2)))
                    - CAST(p.p_retailprice AS DECIMAL(12,2))
                      * CAST(l.l_quantity AS DECIMAL(4,0))
                      * CAST(0.10 AS DECIMAL(3,2))) AS DOUBLE)
             AS sum_profit
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation ns ON s.s_nationkey = ns.n_nationkey
    JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY ns.n_name, year(o.o_orderdate)
    """,
)
def a40_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 SHAPE (product-type profit, adapted: the schema has no
    partsupp, so supply cost is modeled as 10% of p_retailprice — the
    shape, a profit expression spanning columns from two joined
    tables, is what's exercised): lineitem joins part (broadcast,
    name-filtered at the scan), supplier→nation (broadcast), and
    orders for the year. Profit is computed per-row in decimal BEFORE
    the aggregate so the sum is order-independent and exact; one cast
    to double at the end. The only fact exchange is the final
    (nation, year) aggregate — ~25 nations × years, partial-agg'd
    map-side. Reference parity: data_transformer's derived financial
    fields joined across collections."""
    c = Catalog(spark, sf_dir)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    retail = F.col("p_retailprice").cast("decimal(12,2)")
    qty = F.col("l_quantity").cast("decimal(4,0)")
    cost_rate = F.lit("0.10").cast("decimal(3,2)")
    profit = price * (one - disc) - retail * qty * cost_rate
    ns = c.nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("nation")
    )
    return (
        c.lineitem.select(
            "l_orderkey", "l_suppkey", "l_partkey", "l_extendedprice",
            "l_discount", "l_quantity",
        )
        .join(
            F.broadcast(
                c.part.filter(F.col("p_name").like("%red%")).select(
                    "p_partkey", "p_retailprice"
                )
            ),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(
            F.broadcast(c.supplier.select("s_suppkey", "s_nationkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("s_nk"))
        .join(
            c.orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select(
            "nation",
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            profit.alias("profit"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("profit").cast("double").alias("sum_profit"))
    )


@query(
    "a41_important_parts",
    """
    WITH val AS (
      SELECT l.l_partkey,
             sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                 * CAST(l.l_quantity AS DECIMAL(4,0))) AS value
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY l.l_partkey
    ), tot AS (SELECT sum(value) AS total, count(*) AS cnt FROM val)
    SELECT v.l_partkey AS p_partkey, CAST(v.value AS DOUBLE) AS value
    FROM val v, tot t
    WHERE v.value * t.cnt > t.total * 2
    """,
)
def a41_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 SHAPE (important stock, adapted: no partsupp, so
    'inventory value' of a part is the total extendedprice×quantity
    shipped by EUROPE-region suppliers): the global-scalar-subquery
    class — HAVING sum(...) > fraction × (SELECT sum over the whole
    table). Decorrelation: the per-part aggregate computes once, the
    global total+count re-aggregates THAT output (KB per part, never
    the fact table twice — the lazy localCheckpoint shares one
    materialization between the scalar job and the filter), and the
    two scalars ride back to the driver as one 16-byte row (the
    a33/Q22 discipline; a plan-side 1-row cross join would be the
    banned BroadcastNestedLoopJoin). The
    threshold 'value > 2 × average' is rearranged to value×cnt >
    total×2, pure decimal×integer (exact in both engines, no division
    anywhere) and SF-invariant — as SF grows, per-part share shrinks
    but share-of-average doesn't (TPC-H rescales Q11's fraction by
    1/SF for the same reason).
    Reference parity: validate_migration's 'entity exceeds share of
    total' consistency probes."""
    c = Catalog(spark, sf_dir)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    qty = F.col("l_quantity").cast("decimal(4,0)")
    eur = (
        c.supplier.join(
            F.broadcast(c.nation),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(c.region.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey")
    )
    val = (
        c.lineitem.select(
            "l_partkey", "l_suppkey", (price * qty).alias("v")
        )
        .join(
            F.broadcast(eur),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_semi",
        )
        .groupBy("l_partkey")
        .agg(F.sum("v").alias("value"))
    )
    # The global scalar comes back to the driver as ONE row (16 bytes
    # — same a33/Q22 discipline): a plan-side 1-row cross join would
    # compile to the banned BroadcastNestedLoopJoin AND recompute the
    # fact aggregate in both subtrees. The lazy localCheckpoint makes
    # the scalar job and the filter share one materialization of val.
    val = val.localCheckpoint(eager=False)
    total, cnt = val.agg(
        F.sum("value").alias("total"), F.count("*").alias("cnt")
    ).head()
    return (
        val.filter(
            F.col("value") * F.lit(cnt)
            > F.lit(total).cast("decimal(38,2)") * F.lit(2)
        )
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("value").cast("double").alias("value"),
        )
    )


@query(
    "a42_late_shipments",
    """
    SELECT l.l_linestatus,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders o
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_linestatus
    """,
)
def a42_late_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 SHAPE (shipping modes / late lines, adapted: the
    schema has no shipmode or commit/receipt dates, so 'late' is
    shipped >90 days after the order date and the grouping key is
    l_linestatus): the cross-table residual-predicate join class —
    the lateness test references columns from BOTH sides, so it can't
    push to either scan and evaluates as a join residual; the shipdate
    year-window DOES push to the lineitem scan. The conditional
    high/low counts are one pass (two CASE sums), never two joins.
    Reference parity: the orchestrator's priority-split migration
    progress counters."""
    c = Catalog(spark, sf_dir)
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        c.orders.select("o_orderkey", "o_custkey", "o_orderdate",
                        "o_orderpriority")
        .join(
            c.lineitem.filter(
                (F.col("l_shipdate") >= "1996-01-01")
                & (F.col("l_shipdate") < "1997-01-01")
            ).select("l_orderkey", "l_linestatus", "l_shipdate"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


@query(
    "a43_promo_effect",
    f"""
    SELECT CAST(100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                     THEN {_REVENUE_SQL.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")}
                     END) AS DOUBLE)
             / CAST(sum({_REVENUE_SQL.replace("l_extendedprice", "l.l_extendedprice").replace("l_discount", "l.l_discount")}) AS DOUBLE)
             AS DOUBLE) AS promo_revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def a43_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 (promotion effect): the conditional-ratio class —
    share of one month's revenue from PROMO-type parts. Part
    broadcasts into the month-pruned lineitem scan (the date filter
    pushes, so the join probe side is one month of the fact table,
    not all of it); both sums accumulate in decimal in the same
    single aggregate pass, and the ratio is one double division of
    exact numerators — (100.0 × promo) / total evaluated in the same
    association order in both engines. Reference parity:
    validate_migration's category-share percentage checks."""
    c = Catalog(spark, sf_dir)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    rev = price * (one - disc)
    promo = F.when(F.col("p_type") == "PROMO", rev)
    return (
        c.lineitem.filter(
            (F.col("l_shipdate") >= "1996-09-01")
            & (F.col("l_shipdate") < "1996-10-01")
        )
        .select("l_partkey", "l_extendedprice", "l_discount")
        .join(
            F.broadcast(c.part.select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .agg(
            (
                (F.lit(100.0) * F.sum(promo).cast("double"))
                / F.sum(rev).cast("double")
            ).alias("promo_revenue")
        )
    )


@query(
    "a44_top_supplier",
    f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             sum({_REVENUE_SQL}) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    ), m AS (SELECT max(total_revenue) AS mx FROM revenue)
    SELECT s.s_suppkey, s.s_name,
           CAST(r.total_revenue AS DOUBLE) AS total_revenue
    FROM revenue r
    JOIN m ON r.total_revenue = m.mx
    JOIN supplier s ON s.s_suppkey = r.supplier_no
    """,
)
def a44_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 (top supplier): the view-then-argmax class — a
    quarterly per-supplier revenue view, then the supplier(s) whose
    revenue equals the view's max. The max is a 1-row re-aggregate of
    the view's output (never a second fact scan) joined back as a
    broadcast equality on the EXACT decimal revenue — the reason Q15
    specifies equality-with-max rather than LIMIT 1 is ties, and
    decimal keeps the tie set identical across engines. supplier is
    broadcast for the name lookup. Same decorrelation discipline as
    a26/a41. Reference parity: orchestrator's busiest-collection
    leaderboard."""
    c = Catalog(spark, sf_dir)
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    revenue = (
        c.lineitem.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1996-04-01")
        )
        .select("l_suppkey", (price * (one - disc)).alias("rev"))
        .groupBy("l_suppkey")
        .agg(F.sum("rev").alias("total_revenue"))
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        revenue.join(
            F.broadcast(mx), F.col("total_revenue") == F.col("mx")
        )
        .join(
            F.broadcast(c.supplier.select("s_suppkey", "s_name")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_revenue").cast("double").alias("total_revenue"),
        )
    )


# =====================================================================
# SFT / chat-data preparation (operators/chat.py)
# =====================================================================

# Planted duplication: docs doc_id%7==3 become canned conversation A,
# docs doc_id%7==5 become canned conversation B — DIFFERENT user turns,
# IDENTICAL assistant turns (both 24 words, 6-word turns, roles
# u/a/u/a), so assistant-transcript dedup must collapse BOTH groups
# into one key while full-text dedup would keep them apart. That's the
# semantics under test: dedup on what the model trains on.
_CHAT_CANNED_A = (
    "how do i sort a table use the order by clause here "
    "what about joining two large tables shuffle on the join key first"
)
_CHAT_CANNED_B = (
    "please explain sorting rows in sql use the order by clause here "
    "and how to join big tables shuffle on the join key first"
)

# Shared oracle fixture: flat documents -> role-tagged 6-word turns
# (mirrors chat.parse_turns: trim, whitespace split, chunk by 6,
# roles alternating user/assistant from user).
_CHAT_FIXTURE_SQL = f"""src AS (
      SELECT doc_id, source,
             CASE WHEN doc_id % 7 = 3 THEN '{_CHAT_CANNED_A}'
                  WHEN doc_id % 7 = 5 THEN '{_CHAT_CANNED_B}'
                  ELSE text END AS text
      FROM documents
    ), w AS (
      SELECT doc_id, source,
             regexp_split_to_array(trim(text), '\\s+') AS words
      FROM src WHERE len(trim(text)) > 0
    ), idx AS (
      SELECT doc_id, source, words,
             unnest(generate_series(
               0, CAST(ceil(len(words) / 6.0) AS INT) - 1)) AS i
      FROM w
    ), turn AS (
      SELECT doc_id, source, CAST(i AS INT) AS turn_idx,
             CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
             array_to_string(words[i*6+1 : i*6+6], ' ') AS content
      FROM idx
    )"""


def _chat_conv(
    spark: SparkSession, sf_dir: str, fan_out: bool | None = False
) -> DataFrame:
    """documents -> conversation frame (doc_id, source, turns) with the
    planted canned-duplicate fixture. Pure projection, zero shuffle by
    default; ``fan_out`` (the text.cpu_fan_out gate: None = heuristic)
    lets CPU-heavy consumers — the per-turn BPE encodes, whose cost
    per input byte dwarfs the scan — spread an unsplittable
    single-file source across cores before parsing (measured at
    sf0.1: c_sft_tokens 7.3 s -> sub-second on 32 cores; a many-split
    real corpus keeps the heuristic false and the plan unchanged)."""
    d = T.cpu_fan_out(Catalog(spark, sf_dir).documents, fan_out)
    text = (
        F.when(F.col("doc_id") % 7 == 3, F.lit(_CHAT_CANNED_A))
        .when(F.col("doc_id") % 7 == 5, F.lit(_CHAT_CANNED_B))
        .otherwise(F.col("text"))
    )
    return d.select(
        "doc_id",
        "source",
        CH.parse_turns(text, turn_words=6).alias("turns"),
    )


@query(
    "c_sft_turns",
    f"""
    WITH {_CHAT_FIXTURE_SQL}
    SELECT doc_id, turn_idx, role, content FROM turn
    """,
)
def c_sft_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT turn parsing (chat.parse_turns): flat text -> role-tagged
    turns, exploded one row per turn. The derivation is a per-row
    array projection (split/sequence/transform — whole-stage codegen,
    zero shuffle, no UDF); explode is narrow. At 100 TB the
    conversation structure never leaves the row until a downstream
    aggregate asks for it."""
    conv = _chat_conv(spark, sf_dir)
    return conv.select("doc_id", F.explode("turns").alias("t")).select(
        "doc_id",
        F.col("t.turn_idx").alias("turn_idx"),
        F.col("t.role").alias("role"),
        F.col("t.content").alias("content"),
    )


@query(
    "c_chat_render",
    f"""
    WITH {_CHAT_FIXTURE_SQL}
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           string_agg('<|' || role || '|>' || content || '<|end|>',
                      '' ORDER BY turn_idx) AS rendered
    FROM turn GROUP BY doc_id
    """,
)
def c_chat_render(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chat-template render (chat.render_chat): one
    ``<|role|>content<|end|>`` string per conversation, built by a
    single aggregate fold over the turns array — per-row, ZERO
    exchanges end-to-end (the oracle groups exploded rows back
    together; the Spark plan never exploded in the first place, which
    is the point: rendering 100 TB of conversations is a map)."""
    conv = _chat_conv(spark, sf_dir)
    return conv.filter(F.size("turns") > 0).select(
        "doc_id",
        F.size("turns").cast("bigint").alias("n_turns"),
        CH.render_chat("turns").alias("rendered"),
    )


@query(
    "c_loss_mask",
    f"""
    WITH {_CHAT_FIXTURE_SQL}, m AS (
      SELECT doc_id, turn_idx, role,
             4 + len(role) AS hdr, len(content) AS clen,
             sum(4 + len(role) + len(content) + 7) OVER (
               PARTITION BY doc_id ORDER BY turn_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS off
      FROM turn
    )
    SELECT doc_id, turn_idx,
           CAST(coalesce(off, 0) + hdr AS BIGINT) AS span_start,
           CAST(coalesce(off, 0) + hdr + clen AS BIGINT) AS span_end
    FROM m WHERE role = 'assistant'
    """,
)
def c_loss_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-on-assistant loss-mask spans (chat.loss_mask_spans):
    0-based [start, end) char offsets of each assistant turn's content
    inside the rendered string. The Spark side folds offsets per-row
    inside ONE aggregate over the turns array (zero shuffle — no
    window, no explode-then-regroup); the oracle rebuilds the same
    offsets with a per-doc running sum. substring(rendered, start+1,
    end-start) == content is property-tested in
    tests/test_chat_ops.py."""
    conv = _chat_conv(spark, sf_dir)
    return conv.select(
        "doc_id",
        F.explode(CH.loss_mask_spans("turns")).alias("s"),
    ).select(
        "doc_id",
        F.col("s.turn_idx").alias("turn_idx"),
        F.col("s.span_start").alias("span_start"),
        F.col("s.span_end").alias("span_end"),
    )


@query(
    "c_conv_dedup",
    f"""
    WITH {_CHAT_FIXTURE_SQL}, ak AS (
      -- hash-then-join (md5 per content, concatenated): raw contents
      -- under a separator alias ["x|y"] vs ["x","y"]; 32-hex element
      -- hashes concatenate unambiguously (mirrors
      -- chat.assistant_transcript_key)
      SELECT doc_id,
             md5(coalesce(string_agg(
               CASE WHEN role = 'assistant'
                    THEN md5(coalesce(content, chr(0))) END,
               '' ORDER BY turn_idx), '')) AS conv_key
      FROM turn GROUP BY doc_id
    )
    SELECT conv_key,
           CAST(min(doc_id) AS BIGINT) AS kept_id,
           CAST(count(*) AS BIGINT) AS n_dups
    FROM ak GROUP BY conv_key
    """,
)
def c_conv_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation dedup on the ASSISTANT transcript
    (chat.conversation_dedup): md5 over the per-turn md5s of the
    assistant contents in turn order (hash-then-join — raw contents
    under a separator would alias ["x|y"] with ["x","y"]), first-wins
    min(doc_id). The planted fixture makes this
    semantic: canned groups A and B differ in every user turn but
    share assistant turns, so they MUST collapse to one key (full-text
    dedup would not). Exactly ONE exchange — the key is a per-row
    projection, the groupBy partial-aggregates map-side."""
    conv = _chat_conv(spark, sf_dir).filter(F.size("turns") > 0)
    return CH.conversation_dedup(conv)


@query(
    "c_conv_dedup_probe",
    f"""
    WITH {_CHAT_FIXTURE_SQL}, ak AS (
      SELECT doc_id,
             md5(coalesce(string_agg(
               CASE WHEN role = 'assistant'
                    THEN md5(coalesce(content, chr(0))) END,
               '' ORDER BY turn_idx), '')) AS conv_key
      FROM turn GROUP BY doc_id
    ), hist_idx AS (
      SELECT conv_key, CAST(min(doc_id) AS BIGINT) AS kept_id,
             CAST(count(*) AS BIGINT) AS n_dups_hist
      FROM ak WHERE doc_id % 3 != 0 GROUP BY conv_key
    )
    SELECT CAST(a.doc_id AS BIGINT) AS id_new, a.conv_key,
           i.kept_id, i.n_dups_hist
    FROM ak a JOIN hist_idx i USING (conv_key)
    WHERE a.doc_id % 3 = 0
    """,
)
def c_conv_dedup_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL conversation dedup (chat.conv_dedup_probe): the
    historical corpus (doc_id %% 3 != 0) is keyed ONCE into the
    (conv_key, kept_id, n_dups) index (chat.conversation_dedup);
    the arriving batch (doc_id %% 3 == 0) is keyed alone and probes
    the index with a broadcast-batch join — only the batch moves, the
    100 TB history is scanned, never shuffled or re-keyed. The canned
    duplicate groups straddle the split, so the probe finds real
    cross-half transcript collisions; batch-internal duplicates with
    no history are correctly absent.
    Oracle computes both halves' keys from one CTE and splits on the
    id range (the d8_incremental_neardup device)."""
    conv = _chat_conv(spark, sf_dir).filter(F.size("turns") > 0)
    history = conv.filter(F.col("doc_id") % 3 != 0)
    batch = conv.filter(F.col("doc_id") % 3 == 0)
    return CH.conv_dedup_probe(batch, CH.conversation_dedup(history))


@query(
    "c_turn_stats",
    f"""
    WITH {_CHAT_FIXTURE_SQL}
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_convs,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(sum(CASE WHEN role = 'user' THEN len(content)
                    ELSE 0 END) AS BIGINT) AS user_chars,
           CAST(sum(CASE WHEN role = 'assistant' THEN len(content)
                    ELSE 0 END) AS BIGINT) AS assistant_chars,
           CAST(sum(CASE WHEN role = 'assistant' THEN len(content)
                    ELSE 0 END) * 1000
                // sum(CASE WHEN role = 'user' THEN len(content)
                       ELSE 0 END) AS BIGINT) AS ratio_milli
    FROM turn GROUP BY source
    """,
)
def c_turn_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source conversation statistics for SFT mixing decisions:
    conversation/turn counts, user vs assistant character mass, and
    the assistant:user ratio in integer millis (BIGINT multiply-then-
    integer-divide — exact, no float window; all sums are counts of
    characters, far under 2^63). One explode + ONE exchange (the
    source groupBy; count-distinct expands to the standard two-phase
    plan)."""
    conv = _chat_conv(spark, sf_dir)
    t = conv.select(
        "doc_id",
        "source",
        F.explode("turns").alias("t"),
    ).select(
        "doc_id",
        "source",
        F.col("t.role").alias("role"),
        F.length("t.content").cast("bigint").alias("clen"),
    )
    user_chars = F.sum(F.when(F.col("role") == "user", F.col("clen")).otherwise(F.lit(0)))
    a_chars = F.sum(
        F.when(F.col("role") == "assistant", F.col("clen")).otherwise(F.lit(0))
    )
    return t.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_convs"),
        F.count("*").cast("bigint").alias("n_turns"),
        user_chars.cast("bigint").alias("user_chars"),
        a_chars.cast("bigint").alias("assistant_chars"),
    ).withColumn(
        # BIGINT multiply-then-`div`: exact integer floor (all-positive
        # character sums), mirrored by DuckDB's `//`
        "ratio_milli",
        F.expr("assistant_chars * 1000 div user_chars").cast("bigint"),
    )


# Preference-pair fixture: docs doc_id%9==2 and doc_id%9==7 answer the
# SAME canned prompts (identical user turns -> identical prompt key)
# with different-quality answers — %9==2 long (chosen), %9==7 short
# (rejected). All other docs keep their natural text, whose prompts
# are (almost surely) unique -> singleton groups emit nothing.
_DPO_CANNED_LONG = (
    "please tell me about distributed joins "
    "broadcast the small side and shuffle "
    "what about skewed key distributions then "
    "salt the hot keys before joining"
)
_DPO_CANNED_SHORT = (
    "please tell me about distributed joins "
    "x y z a b c "
    "what about skewed key distributions then "
    "p q r s t u"
)


@query(
    "c_dpo_pairs",
    f"""
    WITH src AS (
      SELECT doc_id,
             CASE WHEN doc_id % 9 = 2 THEN '{_DPO_CANNED_LONG}'
                  WHEN doc_id % 9 = 7 THEN '{_DPO_CANNED_SHORT}'
                  ELSE text END AS text
      FROM documents
    ), w AS (
      SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS words
      FROM src WHERE len(trim(text)) > 0
    ), idx AS (
      SELECT doc_id, words,
             unnest(generate_series(
               0, CAST(ceil(len(words) / 6.0) AS INT) - 1)) AS i
      FROM w
    ), turn AS (
      SELECT doc_id, CAST(i AS INT) AS turn_idx,
             CASE WHEN i % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
             array_to_string(words[i*6+1 : i*6+6], ' ') AS content
      FROM idx
    ), keyed AS (
      SELECT doc_id,
             md5(coalesce(string_agg(
               CASE WHEN role = 'user'
                    THEN md5(coalesce(content, chr(0))) END,
               '' ORDER BY turn_idx), '')) AS prompt_key,
             CAST(sum(CASE WHEN role = 'assistant' THEN len(content)
                      ELSE 0 END) AS BIGINT) AS score
      FROM turn GROUP BY doc_id
    ), ranked AS (
      SELECT prompt_key, doc_id, score,
             count(*) OVER (PARTITION BY prompt_key) AS n,
             row_number() OVER (PARTITION BY prompt_key
               ORDER BY score DESC, doc_id ASC) AS rc,
             row_number() OVER (PARTITION BY prompt_key
               ORDER BY score ASC, doc_id DESC) AS rr
      FROM keyed
    )
    SELECT c.prompt_key,
           CAST(c.n AS BIGINT) AS n_candidates,
           CAST(c.doc_id AS BIGINT) AS chosen_id,
           CAST(r.doc_id AS BIGINT) AS rejected_id,
           CAST(c.score - r.score AS BIGINT) AS score_margin
    FROM ranked c
    JOIN ranked r ON c.prompt_key = r.prompt_key
    WHERE c.rc = 1 AND r.rr = 1 AND c.n >= 2
    """,
)
def c_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO/RLHF preference-pair construction (chat.preference_pairs):
    conversations grouped by PROMPT identity (user-transcript key,
    hash-then-join), (chosen, rejected) = (highest, lowest) scoring
    answers per prompt, score = assistant character mass (the
    deterministic stand-in for a reward/quality model — the operator
    takes any integer score column). Struct min/max extremes give a
    stable pair even under score ties (chosen ties to the smallest
    id, rejected to the largest). One exchange (the prompt-key
    groupBy)."""
    d = Catalog(spark, sf_dir).documents
    text = (
        F.when(F.col("doc_id") % 9 == 2, F.lit(_DPO_CANNED_LONG))
        .when(F.col("doc_id") % 9 == 7, F.lit(_DPO_CANNED_SHORT))
        .otherwise(F.col("text"))
    )
    conv = d.select(
        "doc_id", CH.parse_turns(text, turn_words=6).alias("turns")
    ).select(
        "doc_id",
        "turns",
        F.aggregate(
            F.filter("turns", lambda t: t["role"] == "assistant"),
            F.lit(0).cast("bigint"),
            lambda acc, t: acc + F.length(t["content"]),
        ).alias("score"),
    )
    return CH.preference_pairs(conv, "score")


@query(
    "c_json_ingest",
    f"""
    WITH {_CHAT_FIXTURE_SQL}, agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_turns,
             string_agg('<|' || role || '|>' || content || '<|end|>',
                        '' ORDER BY turn_idx) AS rendered
      FROM turn GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 0 THEN 0
                ELSE coalesce(a.n_turns, 0) END AS n_turns,
           CASE WHEN d.doc_id % 11 = 0 THEN ''
                ELSE coalesce(a.rendered, '') END AS rendered
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
)
def c_json_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-chat ingest (chat.parse_turns_json): conversations
    round-trip through the messages-JSON shape real SFT dumps arrive
    in — the fixture turns are serialized with to_json, docs with
    doc_id %% 11 == 0 are PLANTED MALFORMED (last character chopped,
    so from_json yields NULL), then parse_turns_json re-derives the
    TURN_STRUCT (turn_idx from array position) and render_chat runs
    on it. Malformed payloads degrade to the empty conversation
    (n_turns 0, rendered ''), never a NULL row or a crash. The
    oracle never sees JSON: it recomputes the render from the
    fixture text and overrides the planted ids — a broken
    serialize/parse/render leg on the Spark side cannot hash-match.
    Still a pure projection: to_json/from_json/transform/fold,
    zero exchanges."""
    conv = _chat_conv(spark, sf_dir)
    payload = F.when(
        F.col("doc_id") % 11 == 0,
        F.expr("substring(to_json(turns), 1, length(to_json(turns)) - 1)"),
    ).otherwise(F.to_json("turns"))
    parsed = CH.parse_turns_json(payload)
    return conv.select(
        "doc_id",
        F.size(parsed).cast("bigint").alias("n_turns"),
        CH.render_chat(parsed).alias("rendered"),
    )


_TPL_CHATML = CH.CHAT_TEMPLATES["chatml"]
_TPL_LLAMA3 = CH.CHAT_TEMPLATES["llama3"]


def _chat_proof_cols(step):
    """Shared projection tail for the per-preset template queries:
    scalarize the spans, extract every span back OUT of the rendered
    string, and put the assistant contents next to the extraction —
    the substring property as DATA the oracle can hash. ``step`` must
    carry (doc_id, turns, rendered, spans) already staged in their
    own projection (rendered/spans are expensive folds — referenced,
    not re-evaluated, per the t_bpe_ids discipline)."""
    return step.select(
        "doc_id",
        F.length("rendered").cast("bigint").alias("n_chars"),
        "rendered",
        F.array_join(
            F.transform(
                "spans",
                lambda s: F.concat_ws(
                    ":",
                    s["turn_idx"].cast("string"),
                    s["span_start"].cast("string"),
                    s["span_end"].cast("string"),
                ),
            ),
            ",",
        ).alias("spans_str"),
        F.array_join(
            F.transform(
                "spans",
                lambda s: F.substring(
                    F.col("rendered"),
                    (s["span_start"] + 1).cast("int"),
                    (s["span_end"] - s["span_start"]).cast("int"),
                ),
            ),
            "",
        ).alias("extracted"),
        F.array_join(
            F.transform(
                F.filter("turns", lambda t: t["role"] == "assistant"),
                lambda t: t["content"],
            ),
            "",
        ).alias("assistant_text"),
    )


@query(
    "c_render_chatml",
    f"""
    WITH {_CHAT_FIXTURE_SQL}, r AS (
      SELECT doc_id,
             string_agg('<|im_start|>' || role || chr(10) || content
                        || '<|im_end|>' || chr(10), '' ORDER BY turn_idx)
               AS rendered
      FROM turn GROUP BY doc_id
    ), m AS (
      SELECT doc_id, turn_idx, role, content, len(content) AS clen,
             {len(_TPL_CHATML.pre_role) + len(_TPL_CHATML.post_role)}
               + len(role) AS hdr,
             sum({len(_TPL_CHATML.pre_role) + len(_TPL_CHATML.post_role)
                  + len(_TPL_CHATML.suffix)} + len(role) + len(content))
               OVER (PARTITION BY doc_id ORDER BY turn_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS off
      FROM turn
    ), sp AS (
      SELECT m.doc_id, m.turn_idx, m.content,
             CAST(coalesce(m.off, 0) + m.hdr AS BIGINT) AS s,
             CAST(coalesce(m.off, 0) + m.hdr + m.clen AS BIGINT) AS e,
             r.rendered
      FROM m JOIN r USING (doc_id) WHERE m.role = 'assistant'
    ), spa AS (
      SELECT doc_id,
             string_agg(turn_idx || ':' || s || ':' || e,
                        ',' ORDER BY turn_idx) AS spans_str,
             string_agg(substring(rendered, s + 1, e - s),
                        '' ORDER BY turn_idx) AS extracted,
             string_agg(content, '' ORDER BY turn_idx) AS assistant_text
      FROM sp GROUP BY doc_id
    )
    SELECT r.doc_id, CAST(len(r.rendered) AS BIGINT) AS n_chars,
           r.rendered,
           coalesce(spa.spans_str, '') AS spans_str,
           coalesce(spa.extracted, '') AS extracted,
           coalesce(spa.assistant_text, '') AS assistant_text
    FROM r LEFT JOIN spa USING (doc_id)
    """,
)
def c_render_chatml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ChatML template render + mask (chat.render_chat /
    loss_mask_spans with the "chatml" preset): templates are DATA —
    per-turn (pre_role, post_role, suffix) strings drive BOTH the
    render fold and the offset arithmetic, so the mask can never
    disagree with its own template (newline-bearing tags exercise the
    non-tagged offset math). The query emits the substring property
    itself: ``extracted`` re-slices every span OUT of the rendered
    string and must equal ``assistant_text`` in both engines — a
    drifted offset hash-mismatches. Still a pure projection: two
    folds + per-row transforms, zero exchanges (the oracle regroups
    exploded rows; the Spark plan never exploded)."""
    conv = _chat_conv(spark, sf_dir)
    step = conv.filter(F.size("turns") > 0).select(
        "doc_id",
        "turns",
        CH.render_chat("turns", "chatml").alias("rendered"),
        CH.loss_mask_spans("turns", "chatml").alias("spans"),
    )
    return _chat_proof_cols(step)


@query(
    "c_render_llama3",
    f"""
    WITH {_CHAT_FIXTURE_SQL}, r AS (
      SELECT doc_id,
             '<|begin_of_text|>' || string_agg('<|start_header_id|>'
               || role || '<|end_header_id|>' || chr(10) || chr(10)
               || content || '<|eot_id|>', '' ORDER BY turn_idx)
               AS rendered
      FROM turn GROUP BY doc_id
    ), m AS (
      SELECT doc_id, turn_idx, role, content, len(content) AS clen,
             {len(_TPL_LLAMA3.pre_role) + len(_TPL_LLAMA3.post_role)}
               + len(role) AS hdr,
             {len(_TPL_LLAMA3.bos)}
               + coalesce(sum({len(_TPL_LLAMA3.pre_role)
                               + len(_TPL_LLAMA3.post_role)
                               + len(_TPL_LLAMA3.suffix)}
                              + len(role) + len(content))
                   OVER (PARTITION BY doc_id ORDER BY turn_idx
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0)
               AS off
      FROM turn
    ), sp AS (
      SELECT m.doc_id, m.turn_idx, m.content,
             CAST(m.off + m.hdr AS BIGINT) AS s,
             CAST(m.off + m.hdr + m.clen AS BIGINT) AS e,
             r.rendered
      FROM m JOIN r USING (doc_id) WHERE m.role = 'assistant'
    ), spa AS (
      SELECT doc_id,
             string_agg(turn_idx || ':' || s || ':' || e,
                        ',' ORDER BY turn_idx) AS spans_str,
             string_agg(substring(rendered, s + 1, e - s),
                        '' ORDER BY turn_idx) AS extracted,
             string_agg(content, '' ORDER BY turn_idx) AS assistant_text
      FROM sp GROUP BY doc_id
    )
    SELECT r.doc_id, CAST(len(r.rendered) AS BIGINT) AS n_chars,
           r.rendered,
           coalesce(spa.spans_str, '') AS spans_str,
           coalesce(spa.extracted, '') AS extracted,
           coalesce(spa.assistant_text, '') AS assistant_text
    FROM r LEFT JOIN spa USING (doc_id)
    """,
)
def c_render_llama3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Llama-3-style template render + mask (the "llama3" preset):
    exercises the BOS sentinel (a NON-ZERO initial mask offset — the
    arithmetic the tagged/chatml presets never touch) and a
    multi-character post_role with two newlines. Same emitted
    substring proof as c_render_chatml: ``extracted`` ==
    ``assistant_text`` or the hash gate fails. Pure projection, zero
    exchanges."""
    conv = _chat_conv(spark, sf_dir)
    step = conv.filter(F.size("turns") > 0).select(
        "doc_id",
        "turns",
        CH.render_chat("turns", "llama3").alias("rendered"),
        CH.loss_mask_spans("turns", "llama3").alias("spans"),
    )
    return _chat_proof_cols(step)


@query(
    "c_render_system",
    f"""
    WITH {_CHAT_FIXTURE_SQL}, st AS (
      SELECT doc_id, 0 AS turn_idx, 'system' AS role,
             'You are a helpful assistant.' AS content
      FROM (SELECT DISTINCT doc_id FROM turn)
      UNION ALL
      SELECT doc_id, turn_idx + 1, role, content FROM turn
    ), r AS (
      SELECT doc_id,
             string_agg('<|im_start|>' || role || chr(10) || content
                        || '<|im_end|>' || chr(10), '' ORDER BY turn_idx)
               AS rendered
      FROM st GROUP BY doc_id
    ), m AS (
      SELECT doc_id, turn_idx, role, content, len(content) AS clen,
             {len(_TPL_CHATML.pre_role) + len(_TPL_CHATML.post_role)}
               + len(role) AS hdr,
             sum({len(_TPL_CHATML.pre_role) + len(_TPL_CHATML.post_role)
                  + len(_TPL_CHATML.suffix)} + len(role) + len(content))
               OVER (PARTITION BY doc_id ORDER BY turn_idx
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS off
      FROM st
    ), sp AS (
      SELECT m.doc_id, m.turn_idx, m.content,
             CAST(coalesce(m.off, 0) + m.hdr AS BIGINT) AS s,
             CAST(coalesce(m.off, 0) + m.hdr + m.clen AS BIGINT) AS e,
             r.rendered
      FROM m JOIN r USING (doc_id) WHERE m.role = 'assistant'
    ), spa AS (
      SELECT doc_id,
             string_agg(turn_idx || ':' || s || ':' || e,
                        ',' ORDER BY turn_idx) AS spans_str,
             string_agg(substring(rendered, s + 1, e - s),
                        '' ORDER BY turn_idx) AS extracted,
             string_agg(content, '' ORDER BY turn_idx) AS assistant_text
      FROM sp GROUP BY doc_id
    )
    SELECT r.doc_id, CAST(len(r.rendered) AS BIGINT) AS n_chars,
           r.rendered,
           coalesce(spa.spans_str, '') AS spans_str,
           coalesce(spa.extracted, '') AS extracted,
           coalesce(spa.assistant_text, '') AS assistant_text
    FROM r LEFT JOIN spa USING (doc_id)
    """,
)
def c_render_system(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SYSTEM-TURN convention under the data-driven templates: a
    system turn prepended to every conversation renders through the
    SAME pre_role/post_role framing as any other role (no special
    case to drift) and the assistant-only mask ignores it BY ROLE —
    the spans shift by the system header's length but still extract
    exactly the assistant contents (the emitted substring proof, as
    in c_render_chatml). The prepend is a per-row array concat with
    re-derived turn indices — still a pure projection, zero
    exchanges."""
    conv = _chat_conv(spark, sf_dir)
    sys_turn = F.struct(
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("system").alias("role"),
        F.lit("You are a helpful assistant.").alias("content"),
    )
    with_sys = F.concat(
        F.array(sys_turn),
        F.transform(
            "turns",
            lambda t: F.struct(
                (t["turn_idx"] + 1).cast("int").alias("turn_idx"),
                t["role"].alias("role"),
                t["content"].alias("content"),
            ),
        ),
    )
    step = conv.filter(F.size("turns") > 0).select(
        "doc_id",
        with_sys.alias("turns"),
        CH.render_chat(with_sys, "chatml").alias("rendered"),
        CH.loss_mask_spans(with_sys, "chatml").alias("spans"),
    )
    return _chat_proof_cols(step)


def _sft_suffix_ids() -> list[int]:
    vocab = T.gpt2_vocab(_GPT2_DEMO_MERGES)
    return [
        vocab[s]
        for s in T.gpt2_apply_reference(
            _TPL_CHATML.suffix, _GPT2_DEMO_MERGES
        )
    ]


def _sft_segments_sql(
    recursive: bool = False,
    hdr_t2: str = "'<|im_start|>' || role || chr(10)",
    hdr_expr: str = "h.tid",
    sfx_n: int | None = None,
) -> str:
    """Shared oracle PREFIX for the token-space SFT family: fixture
    turns → (header, content) SEGMENT rows → the identical
    pretokenize → byte-alphabet → merge-chain → id-map pipeline as
    the whole-document t_bpe_ids oracle → per-turn (hdr, cnt) id
    lists with the running token offset. c_sft_tokens appends the
    per-conversation assembly + decode-roundtrip tail; c_pack_sft
    appends the BFD packing + mask-remap tail.

    ``hdr_t2``/``hdr_expr``/``sfx_n`` parameterize the SPECIAL-TOKEN
    variant (c_sft_tokens_special): seg 0 carries only the role text
    (the control strings never BPE-encode), the per-turn header id
    list is rebuilt as [pre ids] || role ids || [post ids], and the
    per-turn footer length follows the special suffix encoding."""
    sfx_ids = _sft_suffix_ids()
    if sfx_n is None:
        sfx_n = len(sfx_ids)
    kw = "WITH RECURSIVE" if recursive else "WITH"
    return f"""
    {kw} {_CHAT_FIXTURE_SQL}, d AS (
      SELECT doc_id, turn_idx, 0 AS seg,
             {hdr_t2} AS t2 FROM turn
      UNION ALL
      SELECT doc_id, turn_idx, 1 AS seg, content AS t2 FROM turn
    ), pt AS (
      {_gpt2_pretok_sql("doc_id, turn_idx, seg")}
    ), mm AS (
      SELECT doc_id, turn_idx, seg,
        list_transform(toks, t ->
          replace(replace(replace(t, ' ', 'Ġ'), chr(9), 'ĉ'),
                  chr(10), 'Ċ')) AS mapped
      FROM pt
    ), e AS MATERIALIZED (
      SELECT doc_id, turn_idx, seg,
        trim(regexp_replace(
          array_to_string(
            list_transform(mapped, w -> {_gpt2_sql_encode("w")}), ''),
          ' +', ' ', 'g')) AS enc
      FROM mm
    ), vocab AS (
      SELECT {_gpt2_vocab_sql_map()} AS vm, {_gpt2_rvocab_sql_map()} AS rm
    ), ids AS (
      SELECT doc_id, turn_idx, seg,
        list_transform(
          list_filter(string_split(enc, ' '), s -> s <> ''),
          s -> vm[s][1]) AS tid
      FROM e, vocab
    ), tu AS (
      SELECT t.doc_id, t.turn_idx, t.role, t.content,
             {hdr_expr} AS hdr, c.tid AS cnt
      FROM turn t
      JOIN ids h ON h.doc_id = t.doc_id AND h.turn_idx = t.turn_idx
                AND h.seg = 0
      JOIN ids c ON c.doc_id = t.doc_id AND c.turn_idx = t.turn_idx
                AND c.seg = 1
    ), o AS (
      SELECT doc_id, turn_idx, role, content, hdr, cnt,
        coalesce(sum(len(hdr) + len(cnt) + {sfx_n})
          OVER (PARTITION BY doc_id ORDER BY turn_idx
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
          AS off
      FROM tu
    )"""


_SFT_SPECIALS = ["<|im_start|>", "<|im_end|>"]


def _sft_tokens_oracle(special: bool = False) -> str:
    """DuckDB mirror of chat.sft_tokens with the chatml preset: the
    shared segment-encode prefix (_sft_segments_sql), then
    per-conversation assembly — constant suffix ids inlined as a
    literal (computed by the same driver-side encode the Spark plan
    embeds) — and the masked ids decoded back through the REVERSE
    vocab map, so a hash match proves segmentation, ids, token-span
    arithmetic, AND the decode-roundtrip in one row.

    ``special=True`` mirrors the special_token_ids variant: control
    strings become reserved single ids (never BPE'd), seg 0 encodes
    only the role text, and the header id list is
    [pre id] || role ids || [post ids]."""
    if special:
        sp = CH.special_token_ids(_GPT2_DEMO_MERGES, _SFT_SPECIALS)
        enc = lambda t: CH._encode_constant(t, _GPT2_DEMO_MERGES, sp)
        sfx_ids = enc(_TPL_CHATML.suffix)
        pre_lit = "[" + ", ".join(map(str, enc(_TPL_CHATML.pre_role))) + "]"
        post_lit = "[" + ", ".join(map(str, enc(_TPL_CHATML.post_role))) + "]"
        prefix = _sft_segments_sql(
            hdr_t2="role",
            hdr_expr=f"{pre_lit} || h.tid || {post_lit}",
            sfx_n=len(sfx_ids),
        )
    else:
        sfx_ids = _sft_suffix_ids()
        prefix = _sft_segments_sql()
    sfx_lit = "[" + ", ".join(map(str, sfx_ids)) + "]"
    return f"""{prefix}, agg AS (
      SELECT doc_id,
        flatten(list(hdr || cnt || {sfx_lit} ORDER BY turn_idx))
          AS all_ids,
        coalesce(string_agg(CASE WHEN role = 'assistant'
          THEN turn_idx || ':' || (off + len(hdr)) || ':'
               || (off + len(hdr) + len(cnt)) END,
          ',' ORDER BY turn_idx), '') AS mask_spans,
        flatten(list(CASE WHEN role = 'assistant' THEN cnt
                          ELSE [] END ORDER BY turn_idx)) AS masked_ids,
        coalesce(string_agg(CASE WHEN role = 'assistant' THEN content END,
          '' ORDER BY turn_idx), '') AS assistant_text
      FROM o GROUP BY doc_id
    ), fin AS (
      SELECT doc_id, all_ids, mask_spans, assistant_text,
        replace(replace(replace(
          array_to_string(list_transform(masked_ids, i -> rm[i][1]), ''),
          'Ġ', ' '), 'ĉ', chr(9)), 'Ċ', chr(10)) AS masked_text
      FROM agg, vocab
    )
    SELECT doc_id,
           CAST(len(all_ids) AS BIGINT) AS n_tokens,
           array_to_string(all_ids, ' ') AS token_ids,
           mask_spans, masked_text, assistant_text,
           CAST(CASE WHEN masked_text = assistant_text
                THEN 1 ELSE 0 END AS BIGINT) AS roundtrip_ok
    FROM fin
    """


@query("c_sft_tokens", _sft_tokens_oracle())
def c_sft_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-SPACE loss masks (chat.sft_tokens, chatml preset): the
    artifact an SFT trainer actually consumes — real byte-level BPE
    token ids for the rendered conversation plus [tok_start, tok_end)
    TOKEN-INDEX spans over the assistant contents. Template pieces
    and contents are encoded as separate segments (the HF
    message-wise convention), which is what makes the mask PROVABLE:
    ``masked_text`` decodes the masked ids through the reverse vocab
    (text.gpt2_decode_ascii) and must equal ``assistant_text``
    byte-for-byte in BOTH engines (``roundtrip_ok`` pins it to 1) —
    the render/mask alignment property lifted to token space. Plan:
    constant segments ride as literal id arrays; per-turn encodes run
    inside one transform + one fold — pure projection, zero shuffle,
    zero UDF."""
    # fan_out=None: per-turn BPE encode costs ~10^3 CPU per input byte
    # vs the scan, so the single-row-group testdata file would run the
    # whole encode on one core (r13 bench: 7.3 s wall / 6.1 s cpu on
    # local[32]); the gated repartition spreads it, a many-split real
    # corpus is unaffected (guide §2.5 input-skew rule)
    conv = _chat_conv(spark, sf_dir, fan_out=None)
    st = conv.filter(F.size("turns") > 0).select(
        "doc_id",
        "turns",
        CH.sft_tokens("turns", _GPT2_DEMO_MERGES, "chatml").alias("s"),
    )
    masked = F.flatten(
        F.transform(
            F.col("s.mask_spans"),
            lambda sp: F.slice(
                F.col("s.token_ids"),
                (sp["tok_start"] + 1).cast("int"),
                (sp["tok_end"] - sp["tok_start"]).cast("int"),
            ),
        )
    )
    step = st.select(
        "doc_id",
        F.size("s.token_ids").cast("bigint").alias("n_tokens"),
        F.array_join(
            F.transform("s.token_ids", lambda i: i.cast("string")), " "
        ).alias("token_ids"),
        F.array_join(
            F.transform(
                "s.mask_spans",
                lambda x: F.concat_ws(
                    ":",
                    x["turn_idx"].cast("string"),
                    x["tok_start"].cast("string"),
                    x["tok_end"].cast("string"),
                ),
            ),
            ",",
        ).alias("mask_spans"),
        T.gpt2_decode_ascii(masked, _GPT2_DEMO_MERGES).alias(
            "masked_text"
        ),
        F.array_join(
            F.transform(
                F.filter("turns", lambda t: t["role"] == "assistant"),
                lambda t: t["content"],
            ),
            "",
        ).alias("assistant_text"),
    )
    return step.select(
        "*",
        (F.col("masked_text") == F.col("assistant_text"))
        .cast("bigint")
        .alias("roundtrip_ok"),
    )


@query("c_sft_tokens_special", _sft_tokens_oracle(special=True))
def c_sft_tokens_special(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-space masks with RESERVED SPECIAL TOKENS
    (chat.special_token_ids + sft_tokens special_ids): the production
    convention — <|im_start|>/<|im_end|> become single ids appended
    after the BPE id space (GPT-2's own <|endoftext|> rule), control
    strings are NEVER split by the BPE, and the per-turn header is
    [pre id] + encode(role) + [post ids]. Same emitted
    decode-roundtrip proof as c_sft_tokens (masked ids are content
    only, so the reverse-vocab decode is unaffected); the oracle
    rebuilds the special segmentation with literal id splices around
    the role-only encode. Zero shuffle, zero UDF, as before."""
    sp = CH.special_token_ids(_GPT2_DEMO_MERGES, _SFT_SPECIALS)
    # same gated fan-out as c_sft_tokens: the special-id encode is the
    # same per-turn BPE cost profile
    conv = _chat_conv(spark, sf_dir, fan_out=None)
    st = conv.filter(F.size("turns") > 0).select(
        "doc_id",
        "turns",
        CH.sft_tokens(
            "turns", _GPT2_DEMO_MERGES, "chatml", special_ids=sp
        ).alias("s"),
    )
    masked = F.flatten(
        F.transform(
            F.col("s.mask_spans"),
            lambda sp_: F.slice(
                F.col("s.token_ids"),
                (sp_["tok_start"] + 1).cast("int"),
                (sp_["tok_end"] - sp_["tok_start"]).cast("int"),
            ),
        )
    )
    step = st.select(
        "doc_id",
        F.size("s.token_ids").cast("bigint").alias("n_tokens"),
        F.array_join(
            F.transform("s.token_ids", lambda i: i.cast("string")), " "
        ).alias("token_ids"),
        F.array_join(
            F.transform(
                "s.mask_spans",
                lambda x: F.concat_ws(
                    ":",
                    x["turn_idx"].cast("string"),
                    x["tok_start"].cast("string"),
                    x["tok_end"].cast("string"),
                ),
            ),
            ",",
        ).alias("mask_spans"),
        T.gpt2_decode_ascii(masked, _GPT2_DEMO_MERGES).alias(
            "masked_text"
        ),
        F.array_join(
            F.transform(
                F.filter("turns", lambda t: t["role"] == "assistant"),
                lambda t: t["content"],
            ),
            "",
        ).alias("assistant_text"),
    )
    return step.select(
        "*",
        (F.col("masked_text") == F.col("assistant_text"))
        .cast("bigint")
        .alias("roundtrip_ok"),
    )


def _pack_sft_oracle(seq_len: int = 768, n_buckets: int = 8) -> str:
    """DuckDB mirror of chat.pack_sft_bestfit over chat.sft_tokens'
    output: the shared segment-encode prefix, per-conversation
    (all_ids, struct spans), truncate/clip at seq_len, then the SAME
    recursive-CTE BFD loop as t_pack_bestfit (index-lambda-free
    best-bin choice — the DuckDB 1.0 nested-index pitfall) and an
    offset-remapping assembly: every mask span and example boundary
    shifts by its item's bin offset (a window sum over placement
    position). Hash equality pins ids, placement, tie-breaks, span
    remap, and truncation accounting in one row.

    The staging CTEs the recursive loop re-joins every step (agg/ex/
    it/nit) are AS MATERIALIZED: DuckDB otherwise inlines them into
    each iteration and replays the whole segment-encode chain per
    placed item — measured 300 s → 22 s at sf0.1 (r12 verdict item
    6), bit-identical output at both SFs."""
    sfx_ids = _sft_suffix_ids()
    sfx_lit = "[" + ", ".join(map(str, sfx_ids)) + "]"
    L, NB = seq_len, n_buckets
    return f"""{_sft_segments_sql(recursive=True)}, agg AS MATERIALIZED (
      SELECT doc_id,
        flatten(list(hdr || cnt || {sfx_lit} ORDER BY turn_idx))
          AS all_ids,
        list_filter(list(CASE WHEN role = 'assistant'
            THEN {{'t': turn_idx,
                   's': CAST(off + len(hdr) AS BIGINT),
                   'e': CAST(off + len(hdr) + len(cnt) AS BIGINT)}} END
          ORDER BY turn_idx), x -> x IS NOT NULL) AS sp1
      FROM o GROUP BY doc_id
    ), ex AS MATERIALIZED (
      SELECT doc_id % {NB} AS bucket, doc_id AS d,
        CASE WHEN len(all_ids) > {L} THEN all_ids[1:{L}]
             ELSE all_ids END AS toks,
        CASE WHEN len(all_ids) > {L} THEN 1 ELSE 0 END AS trunc,
        CASE WHEN len(all_ids) > {L}
             THEN list_filter(list_transform(sp1, x ->
                    {{'t': x.t, 's': x.s,
                      'e': least(x.e, CAST({L} AS BIGINT))}}),
                  x -> x.s < x.e)
             ELSE sp1 END AS spans
      FROM agg
    ), it AS MATERIALIZED (
      SELECT bucket, d, trunc, toks, spans,
             CAST(len(toks) AS INTEGER) AS sz,
             CAST(row_number() OVER (
               PARTITION BY bucket ORDER BY len(toks) DESC, d
             ) AS INTEGER) AS rk
      FROM ex
    ), nit AS MATERIALIZED (
      SELECT bucket, CAST(count(*) AS INTEGER) AS n FROM it GROUP BY bucket
    ), rec AS (
      SELECT bucket, 0 AS step,
             CAST([] AS STRUCT(rem INTEGER, refs INTEGER[])[]) AS bins
      FROM nit
      UNION ALL
      SELECT r.bucket, r.step + 1,
        CASE WHEN list_position(
               list_transform(r.bins, b -> b.rem),
               list_sort(list_filter(list_transform(r.bins, b -> b.rem),
                                     x -> x >= i.sz))[1]) IS NULL
          THEN list_append(r.bins,
                 {{'rem': CAST({L} - i.sz AS INTEGER),
                   'refs': [CAST(i.rk AS INTEGER)]}})
          ELSE list_transform(r.bins, (b, j) ->
            CASE WHEN j = list_position(
                   list_transform(r.bins, b2 -> b2.rem),
                   list_sort(list_filter(
                     list_transform(r.bins, b2 -> b2.rem),
                     x -> x >= i.sz))[1])
              THEN {{'rem': CAST(b.rem - i.sz AS INTEGER),
                     'refs': list_append(b.refs, CAST(i.rk AS INTEGER))}}
              ELSE b END)
        END AS bins
      FROM rec r JOIN it i ON i.bucket = r.bucket AND i.rk = r.step + 1
    ), fin AS (
      SELECT r.bucket, r.bins FROM rec r JOIN nit USING (bucket)
      WHERE r.step = nit.n
    ), bx AS (
      SELECT bucket, CAST(u.x.j - 1 AS BIGINT) AS bin_idx,
             u.x.b.refs AS refs
      FROM fin, UNNEST(list_transform(bins, (b, j) -> {{'j': j, 'b': b}}))
           AS u(x)
    ), asg AS (
      SELECT bucket, bin_idx, u.y.p AS p, u.y.rk AS rk
      FROM bx, UNNEST(list_transform(refs, (r2, p2) -> {{'p': p2, 'rk': r2}}))
           AS u(y)
    ), pos AS (
      SELECT a.bucket, a.bin_idx, a.p, i.d, i.trunc, i.toks, i.spans, i.sz,
        CAST(coalesce(sum(i.sz) OVER (
          PARTITION BY a.bucket, a.bin_idx ORDER BY a.p
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
          AS base
      FROM asg a JOIN it i ON i.bucket = a.bucket AND i.rk = a.rk
    ), merged AS (
      SELECT bucket, bin_idx,
        flatten(list(toks ORDER BY p)) AS w,
        CAST(count(*) AS BIGINT) AS n_examples,
        CAST(sum(trunc) AS BIGINT) AS n_truncated,
        array_to_string(flatten(list(list_transform(spans, x ->
          d || ':' || x.t || ':' || (base + x.s) || ':' || (base + x.e))
          ORDER BY p)), ',') AS mask_spans,
        array_to_string(list(d || ':' || base || ':' || (base + sz)
          ORDER BY p), ',') AS doc_spans
      FROM pos GROUP BY bucket, bin_idx
    )
    SELECT CAST(bucket AS BIGINT) AS bucket, bin_idx,
           CAST(len(w) AS BIGINT) AS n_tokens, n_examples, n_truncated,
           array_to_string(w, ' ') AS token_ids, mask_spans, doc_spans
    FROM merged
    """


@query("c_pack_sft", _pack_sft_oracle())
def c_pack_sft(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END SFT training artifact (chat.parse_turns →
    sft_tokens → pack_sft_bestfit): conversations render through the
    chatml template, encode to real byte-level BPE ids with
    token-space masks, and pack WHOLE into 768-token best-fit bins
    with every mask span and example boundary REMAPPED to bin
    coordinates — token_ids + mask_spans + doc_spans per bin is
    exactly what a packing-aware SFT trainer loads. Over-length
    conversations truncate to seq_len with clipped spans and are
    counted (n_truncated), never silently split. Plan: the whole
    tokenize/mask leg is the c_sft_tokens projection; packing adds
    ONE exchange (the bucket groupBy) with the BFD fold and the
    offset-remap assembly as per-row array expressions. The oracle
    replays segmentation, ids, BFD placement, and the remap in one
    recursive-CTE chain — a drifted offset anywhere hash-mismatches."""
    # same gated fan-out as c_sft_tokens: the tokenize/mask leg is the
    # identical per-turn BPE cost profile, and packing's bucket groupBy
    # re-shuffles downstream anyway
    conv = _chat_conv(spark, sf_dir, fan_out=None)
    st = (
        conv.filter(F.size("turns") > 0)
        .select(
            "doc_id",
            CH.sft_tokens("turns", _GPT2_DEMO_MERGES, "chatml").alias("s"),
        )
        .select(
            "doc_id",
            F.col("s.token_ids").alias("tid"),
            F.col("s.mask_spans").alias("sp"),
        )
    )
    return CH.pack_sft_bestfit(
        st, "doc_id", "tid", "sp", seq_len=768, n_buckets=8
    )


# =====================================================================
# Bitext mining (operators/similarity.py:bitext_margin_pairs)
# =====================================================================

@query(
    "sim_bitext_margin",
    """
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), planes AS (
      SELECT vec_id, embedding::DOUBLE[] AS pv
      FROM embeddings WHERE vec_id IN (1, 2, 3, 4)
    ), b AS (
      SELECT e.vec_id, e.v,
             sqrt(list_dot_product(e.v, e.v)) AS nrm,
             string_agg(
               CASE WHEN list_dot_product(e.v, p.pv) >= 0
                    THEN '1' ELSE '0' END, '' ORDER BY p.vec_id) AS bucket
      FROM e CROSS JOIN planes p GROUP BY e.vec_id, e.v
    ), pos AS (
      SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
             CAST(floor(list_dot_product(s.v, t.v) / (s.nrm * t.nrm)
                        * 10000 + 0.5) AS BIGINT) AS cos_e4
      FROM b s JOIN b t ON s.bucket = t.bucket
      WHERE s.vec_id % 2 = 0 AND t.vec_id % 2 = 1
        AND floor(list_dot_product(s.v, t.v) / (s.nrm * t.nrm)
                  * 10000 + 0.5) > 0
    ), ar AS (
      SELECT src_id, tgt_id, cos_e4,
             row_number() OVER (
               PARTITION BY src_id ORDER BY cos_e4 DESC, tgt_id
             ) AS rn
      FROM pos
    ), a AS (
      SELECT src_id,
             max(CASE WHEN rn = 1 THEN tgt_id END) AS best_tgt,
             max(CASE WHEN rn = 1 THEN cos_e4 END) AS best_cos,
             sum(cos_e4) AS a_sum, count(*) AS a_k
      FROM ar WHERE rn <= 4 GROUP BY src_id
    ), br AS (
      SELECT src_id, tgt_id, cos_e4,
             row_number() OVER (
               PARTITION BY tgt_id ORDER BY cos_e4 DESC, src_id
             ) AS rn
      FROM pos
    ), bb AS (
      SELECT tgt_id,
             max(CASE WHEN rn = 1 THEN src_id END) AS best_src,
             sum(cos_e4) AS b_sum, count(*) AS b_k
      FROM br WHERE rn <= 4 GROUP BY tgt_id
    )
    SELECT CAST(a.src_id AS BIGINT) AS src_id,
           CAST(a.best_tgt AS BIGINT) AS tgt_id,
           CAST(a.best_cos AS BIGINT) AS cos_e4,
           CAST(a.best_cos * 2000 * a.a_k * bb.b_k
                // (a.a_sum * bb.b_k + bb.b_sum * a.a_k)
             AS BIGINT) AS margin_milli
    FROM a JOIN bb ON a.best_tgt = bb.tgt_id
    WHERE bb.best_src = a.src_id
      AND a.best_cos * 2000 * a.a_k * bb.b_k
          // (a.a_sum * bb.b_k + bb.b_sum * a.a_k) >= 1000
    """,
)
def sim_bitext_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitext mining (similarity.bitext_margin_pairs): mutual-best
    margin alignment between two embedding corpora — the parallel-
    corpus miner for translation pretraining. Fixture sides: even
    vec_ids = source "language", odd = target. LSH-blocked candidates
    (the 4-plane buckets shared with sim_topk_lsh), INTEGER-EXACT e4
    cosines and one-BIGINT-division margins, so the oracle reproduces
    every value. Plan: one bucket equi-join, two rank-window+groupBy
    stages (each window's exchange reused by its aggregate), one
    final equi-join — all linear in candidate pairs."""
    emb = Catalog(spark, sf_dir).embeddings
    return SIM.bitext_margin_pairs(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        _planes(spark, sf_dir),
        k=4,
        margin_milli=1000,
    )


@query(
    "sim_hard_negatives",
    """
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), planes AS (
      SELECT vec_id, embedding::DOUBLE[] AS pv
      FROM embeddings WHERE vec_id IN (1, 2, 3, 4)
    ), b AS (
      SELECT e.vec_id, e.v,
             sqrt(list_dot_product(e.v, e.v)) AS nrm,
             string_agg(
               CASE WHEN list_dot_product(e.v, p.pv) >= 0
                    THEN '1' ELSE '0' END, '' ORDER BY p.vec_id) AS bucket
      FROM e CROSS JOIN planes p GROUP BY e.vec_id, e.v
    ), pos AS (
      SELECT s.vec_id AS src_id, t.vec_id AS tgt_id,
             CAST(floor(list_dot_product(s.v, t.v) / (s.nrm * t.nrm)
                        * 10000 + 0.5) AS BIGINT) AS cos_e4
      FROM b s JOIN b t ON s.bucket = t.bucket
      WHERE s.vec_id % 2 = 0 AND t.vec_id % 2 = 1
        AND floor(list_dot_product(s.v, t.v) / (s.nrm * t.nrm)
                  * 10000 + 0.5) > 0
    ), ar AS (
      SELECT src_id, tgt_id, cos_e4,
             row_number() OVER (
               PARTITION BY src_id ORDER BY cos_e4 DESC, tgt_id
             ) AS rn
      FROM pos
    ), a AS (
      SELECT src_id,
             max(CASE WHEN rn = 1 THEN tgt_id END) AS best_tgt,
             max(CASE WHEN rn = 1 THEN cos_e4 END) AS best_cos,
             sum(cos_e4) AS a_sum, count(*) AS a_k
      FROM ar WHERE rn <= 4 GROUP BY src_id
    ), br AS (
      SELECT src_id, tgt_id, cos_e4,
             row_number() OVER (
               PARTITION BY tgt_id ORDER BY cos_e4 DESC, src_id
             ) AS rn
      FROM pos
    ), bb AS (
      SELECT tgt_id,
             max(CASE WHEN rn = 1 THEN src_id END) AS best_src,
             sum(cos_e4) AS b_sum, count(*) AS b_k
      FROM br WHERE rn <= 4 GROUP BY tgt_id
    ), mined AS (
      SELECT a.src_id
      FROM a JOIN bb ON a.best_tgt = bb.tgt_id
      WHERE bb.best_src = a.src_id
        AND a.best_cos * 2000 * a.a_k * bb.b_k
            // (a.a_sum * bb.b_k + bb.b_sum * a.a_k) >= 1000
    )
    SELECT CAST(ar.src_id AS BIGINT) AS src_id,
           CAST(ar.tgt_id AS BIGINT) AS neg_id,
           CAST(ar.cos_e4 AS BIGINT) AS cos_e4,
           CAST(ar.rn - 1 AS BIGINT) AS neg_rank
    FROM ar JOIN mined USING (src_id)
    WHERE ar.rn BETWEEN 2 AND 4
    """,
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining (similarity.bitext_hard_negatives): the
    next-best same-bucket targets (ranks 2..4) for every mined bitext
    pair — contrastive-training negatives that sit just under the
    decision boundary. Same fixture sides/planes as
    sim_bitext_margin; mined set and negatives derive from ONE
    materialized candidate frame."""
    emb = Catalog(spark, sf_dir).embeddings
    return SIM.bitext_hard_negatives(
        emb.filter(F.col("vec_id") % 2 == 0),
        emb.filter(F.col("vec_id") % 2 == 1),
        _planes(spark, sf_dir),
        k=4,
        n_neg=3,
        margin_milli=1000,
    )


@query(
    "t_span_corruption",
    """
    WITH w AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS words
      FROM documents
    ), b AS (
      SELECT doc_id, words,
             CAST(ceil(len(words) / 20.0) AS INT) AS nb
      FROM w
    ), blk AS (
      SELECT doc_id, words, nb,
             unnest(generate_series(0, nb - 1)) AS bi
      FROM b
    ), parts AS (
      SELECT doc_id, nb, bi,
             '<extra_id_' || bi || '>' AS sent,
             array_to_string(words[bi*20 + 4 : bi*20 + 20], ' ') AS keep,
             array_to_string(words[bi*20 + 1 : bi*20 + 3], ' ') AS cut,
             len(words[bi*20 + 1 : bi*20 + 3]) AS n_cut
      FROM blk
    )
    SELECT doc_id,
           string_agg(
             sent || CASE WHEN keep IS NOT NULL AND keep != ''
                          THEN ' ' || keep ELSE '' END,
             ' ' ORDER BY bi) AS corrupted,
           string_agg(
             sent || CASE WHEN cut IS NOT NULL AND cut != ''
                          THEN ' ' || cut ELSE '' END,
             ' ' ORDER BY bi) AS targets,
           CAST(max(nb) AS BIGINT) AS n_spans,
           CAST(sum(n_cut) AS BIGINT) AS n_masked
    FROM parts GROUP BY doc_id
    """,
)
def t_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption prep (text.span_corruption): deterministic
    3-of-20 token spans per block masked under incrementing
    ``<extra_id_B>`` sentinels; (corrupted, targets) per document at
    the paper's 15% rate. The Spark side is one zero-shuffle array
    projection; the oracle rebuilds blocks with generate_series +
    1-based inclusive slices and regroups. The operator emits a row
    ('' surfaces, n_spans=0) for zero-token docs while the oracle's
    generate_series over nb=0 drops them — so the query filters
    n_spans > 0 to pin the contract independent of corpus content
    (this corpus has none; the operator's empty-doc row is tested
    in the unit suite)."""
    return T.span_corruption(
        Catalog(spark, sf_dir).documents, span_len=3, period=20
    ).filter(F.col("n_spans") > 0)


@query(
    "t_fim_transform",
    """
    WITH w AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS words
      FROM documents
    ), s AS (
      SELECT doc_id, words, len(words) AS n,
             (len(words) * 400) // 1000 AS p,
             (len(words) * 300) // 1000 AS m
      FROM w
    )
    SELECT doc_id,
           '<fim_prefix>' || coalesce(array_to_string(words[1 : p], ' '), '')
           || '<fim_suffix>'
           || coalesce(array_to_string(words[p + m + 1 : n], ' '), '')
           || '<fim_middle>'
           || coalesce(array_to_string(words[p + 1 : p + m], ' '), '')
             AS fim,
           CAST(p AS BIGINT) AS n_prefix,
           CAST(m AS BIGINT) AS n_middle,
           CAST(n - p - m AS BIGINT) AS n_suffix
    FROM s
    """,
)
def t_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle prep (text.fim_transform): PSM render with
    40/30/30 deterministic token splits — the code-model infilling
    transform as a zero-shuffle projection. Oracle mirrors with
    integer // splits and 1-based inclusive slices (empty slices
    coalesce to '' — DuckDB's array_to_string returns NULL there
    while Spark's array_join returns '')."""
    return T.fim_transform(
        Catalog(spark, sf_dir).documents, prefix_milli=400, middle_milli=300
    )


@query(
    "t_span_corruption_seeded",
    """
    WITH w AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS words
      FROM documents
    ), b AS (
      SELECT doc_id, words,
             CAST(ceil(len(words) / 20.0) AS INT) AS nb
      FROM w
    ), blk AS (
      SELECT doc_id, words, nb,
             unnest(generate_series(0, nb - 1)) AS bi
      FROM b
    ), g AS (
      SELECT doc_id, words, nb, bi,
             least(20, len(words) - bi*20) AS bl,
             least(3, least(20, len(words) - bi*20)) AS cut
      FROM blk
    ), o AS (
      SELECT doc_id, words, nb, bi, bl, cut,
             ('0x' || substr(md5(md5(CAST(doc_id AS VARCHAR))
                                 || md5(CAST(bi AS VARCHAR))), 1, 15)
             )::BIGINT % (bl - cut + 1) AS off
      FROM g
    ), parts AS (
      SELECT doc_id, nb, bi, cut AS n_cut,
             '<extra_id_' || bi || '>' AS sent,
             array_to_string(words[bi*20 + 1 : bi*20 + off], ' ')
               AS keep_l,
             array_to_string(
               words[bi*20 + off + cut + 1 : bi*20 + bl], ' ') AS keep_r,
             array_to_string(
               words[bi*20 + off + 1 : bi*20 + off + cut], ' ') AS cutw
      FROM o
    )
    SELECT doc_id,
           string_agg(
             CASE WHEN keep_l IS NOT NULL AND keep_l != ''
                  THEN keep_l || ' ' ELSE '' END
             || sent
             || CASE WHEN keep_r IS NOT NULL AND keep_r != ''
                     THEN ' ' || keep_r ELSE '' END,
             ' ' ORDER BY bi) AS corrupted,
           string_agg(
             sent || CASE WHEN cutw IS NOT NULL AND cutw != ''
                          THEN ' ' || cutw ELSE '' END,
             ' ' ORDER BY bi) AS targets,
           CAST(max(nb) AS BIGINT) AS n_spans,
           CAST(sum(n_cut) AS BIGINT) AS n_masked
    FROM parts GROUP BY doc_id
    """,
)
def t_span_corruption_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded span corruption (text.span_corruption seeded=True): the
    masked span's in-block start drawn from md5(doc_id, block) modulo
    the valid range — replayable per-document masking instead of the
    "first tokens of every block" distribution artifact, same exact
    15% rate and sentinel mechanics. Oracle mirrors the hash with the
    ('0x'||substr(md5,1,15))::BIGINT idiom (all operands positive so
    %% agrees engine-to-engine); still a zero-shuffle projection."""
    return T.span_corruption(
        Catalog(spark, sf_dir).documents, span_len=3, period=20, seeded=True
    ).filter(F.col("n_spans") > 0)


@query(
    "t_fim_transform_seeded",
    """
    WITH w AS (
      SELECT doc_id,
             regexp_extract_all(lower(text), '[a-z0-9]+') AS words
      FROM documents
    ), c AS (
      SELECT doc_id, words, len(words) AS n,
             ('0x' || substr(md5(md5(CAST(doc_id AS VARCHAR))
                                 || md5('fim_a')), 1, 15)
             )::BIGINT % (len(words) + 1) AS ca,
             ('0x' || substr(md5(md5(CAST(doc_id AS VARCHAR))
                                 || md5('fim_b')), 1, 15)
             )::BIGINT % (len(words) + 1) AS cb
      FROM w
    ), s AS (
      SELECT doc_id, words, n,
             least(ca, cb) AS p,
             greatest(ca, cb) - least(ca, cb) AS m
      FROM c
    )
    SELECT doc_id,
           '<fim_prefix>' || coalesce(array_to_string(words[1 : p], ' '), '')
           || '<fim_suffix>'
           || coalesce(array_to_string(words[p + m + 1 : n], ' '), '')
           || '<fim_middle>'
           || coalesce(array_to_string(words[p + 1 : p + m], ' '), '')
             AS fim,
           CAST(p AS BIGINT) AS n_prefix,
           CAST(m AS BIGINT) AS n_middle,
           CAST(n - p - m AS BIGINT) AS n_suffix
    FROM s
    """,
)
def t_fim_transform_seeded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded FIM (text.fim_transform seeded=True): the paper's two
    uniform cut points in [0, n], drawn from md5(doc_id, 'fim_a'/'fim_b')
    and sorted, instead of fixed 40/30/30 fractions — per-document
    split diversity with no RNG, oracle-checkable via the shared
    hex-to-BIGINT idiom. Same PSM render and partition property."""
    return T.fim_transform(
        Catalog(spark, sf_dir).documents, seeded=True
    )


# =====================================================================
# BM25 ranked retrieval (operators/text.py:bm25_topk)
# =====================================================================

_BM25_QUERIES = [
    ("q1", ["spark", "stream"]),
    ("q2", ["join", "hash"]),
    ("q3", ["window", "batch"]),
]
_BM25_Q_SQL = ", ".join(
    f"('{qid}', '{t}')" for qid, terms in _BM25_QUERIES for t in terms
)


# shared by t_bm25_retrieval (corpus pass) and t_bm25_probe (persisted
# index): the probe is CONTRACTUALLY output-identical to the corpus
# pass, so both queries pin against the same oracle text.
_BM25_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents
    ), tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, term
    ), dl AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
      FROM tok GROUP BY doc_id
    ), stats AS (
      SELECT (SELECT CAST(count(*) AS HUGEINT) FROM documents) AS n,
             (SELECT CAST(count(*) AS HUGEINT) FROM tok) AS t
    ), dfreq AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term
    ), q(query_id, term) AS (VALUES {_BM25_Q_SQL}),
    sc AS (
      SELECT q.query_id, tf.doc_id,
             (CAST(1000 AS HUGEINT)
              * (2 * s.n - 2 * d.df + 1)
              * (tf.tf * (1200 + 1000) * 1000 * s.t))
             // ((2 * d.df + 1)
                 * (tf.tf * 1000000 * s.t
                    + 1200 * ((1000 - 750) * s.t + 750 * dl.dl * s.n)))
               AS sm
      FROM tf
      JOIN q USING (term)
      JOIN dfreq d USING (term)
      JOIN dl USING (doc_id), stats s
    ), agg AS (
      SELECT query_id, doc_id,
             CAST(sum(sm) AS BIGINT) AS score_milli
      FROM sc GROUP BY query_id, doc_id
    ), ranked AS (
      SELECT query_id, doc_id, score_milli,
             CAST(row_number() OVER (
               PARTITION BY query_id
               ORDER BY score_milli DESC, doc_id
             ) AS BIGINT) AS rn
      FROM agg
    )
    SELECT query_id, doc_id, score_milli, rn FROM ranked WHERE rn <= 10
    """


@query("t_bm25_retrieval", _BM25_ORACLE)
def t_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (text.bm25_topk): top-10 documents for
    three two-term queries — the decontamination-lookup / corpus-
    audit shape. Rational idf (tfidf's no-libm device) and fixed-
    point decimal(38,0) scoring make every score_milli integer-exact;
    the oracle reruns the identical algebra in HUGEINT. Plan: token
    explode → tf/dl aggregates, df reusing tf, broadcast query terms,
    WindowGroupLimit top-k per query."""
    return T.bm25_topk(
        Catalog(spark, sf_dir).documents,
        _BM25_QUERIES,
        k=10,
    )


@query("t_bm25_probe", _BM25_ORACLE)
def t_bm25_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 against the MATERIALIZED index (text.bm25_index +
    bm25_probe): build the postings/stats frames once, then answer
    the same three queries by joining the index — the raw corpus is
    never re-exploded at probe time (decontamination lookups are a
    repeated workload; write_bm25_index persists the same frames
    Hive-partitioned by term bucket so a probe prunes to |Q| of 64
    directories). Pinned to the SAME oracle text as
    t_bm25_retrieval: probe == corpus pass, by shared _bm25_rank tail
    and by this gate. The persisted-path plan (corpus never scanned,
    PartitionFilters on tbucket) is pinned in tests/test_bm25.py."""
    postings, stats = T.bm25_index(Catalog(spark, sf_dir).documents)
    return T.bm25_probe(postings, stats, _BM25_QUERIES, k=10)


@query("t_bm25_probe_persisted", _BM25_ORACLE)
def t_bm25_probe_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 against the PERSISTED on-disk index — the path a
    production probe actually takes (text.write_bm25_index +
    bm25_probe_indexed): postings land Hive-partitioned by tbucket,
    the probe derives the bucket modulus from the index's OWN stats
    row and prunes the postings scan to the query terms' buckets
    BEFORE the join (the plan receipt shows ``PartitionFilters:
    [tbucket IN (...)]`` — real directory pruning; a 3-query probe
    reads ≤6 of 64 directories whatever the corpus size). Pinned to
    the SAME oracle text as t_bm25_retrieval/t_bm25_probe: disk
    round-trip + pruning must be invisible to the ranking. The
    scratch index is rebuilt per run (overwrite mode; the path is
    keyed by fixture AND pid so concurrent gate runs on the same
    fixture cannot overwrite each other mid-read) — build cost is the
    corpus pass this index exists to amortize."""
    import os
    import tempfile

    path = os.path.join(
        tempfile.gettempdir(),
        "mongodb_etl_migration_spark_bm25idx_"
        f"{os.path.basename(os.path.normpath(sf_dir))}_{os.getpid()}",
    )
    T.write_bm25_index(Catalog(spark, sf_dir).documents, path)
    return T.bm25_probe_indexed(spark, path, _BM25_QUERIES, k=10)


@query("t_bm25_maintained", _BM25_ORACLE)
def t_bm25_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL index maintenance, oracle-equal to a from-scratch
    build: the corpus arrives as two disjoint batches (doc_id %% 3),
    each keyed once into its additive (doc, term, tf) layer
    (text.bm25_tf); maintenance unions the layers, re-sums per
    (doc, term), re-derives the snapshot-wide dl/df windows via
    postings_from_tf — bucket modulus taken from the index's own
    stats, never a repeated literal — and folds the 1-row stats
    additively (bm25_stats_merge, refusing on bucket mismatch). The
    probe over the MAINTAINED index answers against the full-union
    oracle: raw text is never re-read for documents already ingested,
    which is the whole point of maintaining an index under continuous
    ingestion."""
    d = Catalog(spark, sf_dir).documents
    hist = d.filter(F.col("doc_id") % 3 != 0)
    batch = d.filter(F.col("doc_id") % 3 == 0)
    # each side tokenized exactly ONCE: the checkpointed tf layer
    # feeds that side's stats AND the maintained union
    tf_h = T.bm25_tf(hist).localCheckpoint(eager=False)
    tf_b = T.bm25_tf(batch).localCheckpoint(eager=False)
    _, s_hist = T.bm25_index(hist, tf=tf_h)
    _, s_batch = T.bm25_index(batch, tf=tf_b)
    tf = (
        tf_h.unionByName(tf_b)
        .groupBy("doc_id", "term")
        .agg(F.sum("tf").cast("bigint").alias("tf"))
    )
    stats = T.bm25_stats_merge(s_hist, s_batch)
    postings = T.postings_from_tf(tf, "doc_id", stats=stats)
    return T.bm25_probe(postings, stats, _BM25_QUERIES, k=10)


# =====================================================================
# Entry points consumed by __spark_entry__.py
# =====================================================================

def flagship(spark: SparkSession, sf_dir: str = "/root/testdata/sf0.001") -> DataFrame:
    """The flagship query: denormalized latest-order-per-customer view
    (J5+J6 — the reference's most complex derivation shape)."""
    return j6_denormalized_view(spark, sf_dir)
