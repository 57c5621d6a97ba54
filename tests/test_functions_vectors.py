"""Known-answer and property tests for the deterministic UDFs and the
pure-Python cipher (SURVEY §5: unit-test the 3 UDFs; crypto round-trip
per encryption.py:326-353).
"""

from __future__ import annotations

import base64
import hashlib
import math
import uuid as _uuid

from pyspark.sql import functions as F

from mongodb_etl_migration_spark.functions.crypto import (
    prepare_salsa_iv,
    prepare_salsa_key,
    salsa20_decrypt_str,
    salsa20_encrypt_str,
    salsa20_xor,
)
from mongodb_etl_migration_spark.functions.keys import (
    timeuuid_deterministic,
    uuid5_oid,
)


def test_salsa20_ecrypt_known_vector():
    """ECRYPT Salsa20/20 256-bit test vector (Set 1, vector# 0):
    key = 80 00 ... 00, IV = all-zero; first keystream bytes are
    published — the keystream equals encrypting zeros."""
    key = bytes([0x80] + [0] * 31)
    nonce = bytes(8)
    ks = salsa20_xor(key, nonce, bytes(64))
    expected_start = bytes.fromhex(
        "e3be8fdd8beca2e3ea8ef9475b29a6e7"
        "003951e1097a5c38d23b7a5fad9f6844"
    )
    assert ks[:32] == expected_start


def test_salsa20_roundtrip_and_edge_semantics():
    for text in ["hello", "", "ñandú ✓ unicode", "x" * 5000]:
        enc = salsa20_encrypt_str("migration-key", "iv123", text)
        assert salsa20_decrypt_str("migration-key", "iv123", enc) == text
    # reference edge semantics (encryption.py:58-91)
    assert salsa20_decrypt_str("k", "i", None) is None
    assert salsa20_decrypt_str("k", "i", "") == ""
    assert salsa20_decrypt_str("k", "i", "!!!not-base64!!!") is None


def test_salsa20_decrypt_udfs_edge_known_answers(spark):
    """Both decrypt UDFs over NULL, '', bad base64, a non-UTF-8
    plaintext and a normal ciphertext: the plain UDF gives NULL for
    the undecryptable rows, the fallback UDF returns them verbatim."""
    from mongodb_etl_migration_spark.functions.crypto import (
        make_salsa20_decrypt_fallback_udf,
        make_salsa20_decrypt_udf,
    )

    key, iv = "migration-key", "iv123"
    # bytes that decrypt to an invalid UTF-8 sequence
    non_utf8 = base64.b64encode(
        salsa20_xor(prepare_salsa_key(key), prepare_salsa_iv(iv), b"\xff\xfe")
    ).decode("ascii")
    normal = salsa20_encrypt_str(key, iv, "héllo")
    rows = [(0, None), (1, ""), (2, "!!!not-base64!!!"), (3, non_utf8), (4, normal)]
    df = spark.createDataFrame(rows, "i int, v string")
    got = {
        r.i: (r.dec, r.fb)
        for r in df.select(
            "i",
            make_salsa20_decrypt_udf(key, iv)("v").alias("dec"),
            make_salsa20_decrypt_fallback_udf(key, iv)("v").alias("fb"),
        ).collect()
    }
    assert got == {
        0: (None, None),
        1: ("", ""),
        2: (None, "!!!not-base64!!!"),
        3: (None, non_utf8),
        4: ("héllo", "héllo"),
    }


def test_uuid5_udf_matches_python(spark):
    ids = [f"{i:024x}" for i in range(50)]
    df = spark.createDataFrame([(s,) for s in ids], "mongo_id string")
    got = {
        r["mongo_id"]: r["u"]
        for r in df.select(
            "mongo_id", uuid5_oid(F.col("mongo_id")).alias("u")
        ).collect()
    }
    for s in ids:
        assert got[s] == str(_uuid.uuid5(_uuid.NAMESPACE_OID, s))


def _timeuuid_reference(mid: str | None, ms: float | None) -> str | None:
    """Plain-Python timeuuid_deterministic: the v1 layout over the
    given milliseconds with sha1(mid)'s clock-seq/node bits; NULL or
    NaN input gives NULL."""
    if mid is None or ms is None or math.isnan(ms):
        return None
    # 100-ns intervals since 1582-10-15 (RFC 4122 epoch offset).
    timestamp = int(ms) * 10000 + 0x01B21DD213814000
    time_low = timestamp & 0xFFFFFFFF
    time_mid = (timestamp >> 32) & 0xFFFF
    time_hi_version = ((timestamp >> 48) & 0x0FFF) | (1 << 12)
    h = hashlib.sha1(mid.encode("utf-8")).digest()
    clock_seq = ((h[0] & 0x3F) | 0x80) << 8 | h[1]
    node = int.from_bytes(h[2:8], "big")
    return str(
        _uuid.UUID(
            fields=(time_low, time_mid, time_hi_version,
                    clock_seq >> 8, clock_seq & 0xFF, node)
        )
    )


def test_uuid_column_forms_known_answers(spark):
    """The JVM-codegen uuid5_oid / timeuuid_deterministic equal their
    plain-Python definitions on every edge shape: NULLs, empty string,
    multi-byte unicode, long strings, tab/newline, epoch/negative/NULL
    timestamps and NaN double timestamps."""
    ids = [
        "",
        "ñandú ✓ unicode",
        "💡🎉",
        "x" * 5000,
        "room:42",
        "a\tb\nc",
        None,
    ] + [f"{i:024x}" for i in range(20)]
    df = spark.createDataFrame([(s,) for s in ids], "mongo_id string")
    for r in df.select("mongo_id", uuid5_oid(F.col("mongo_id")).alias("u")).collect():
        s = r["mongo_id"]
        want = None if s is None else str(_uuid.uuid5(_uuid.NAMESPACE_OID, s))
        assert r["u"] == want, s

    tu_rows = [
        ("edge", 0),
        ("edge2", 1),
        ("neg", -1000),
        (None, 123),
        ("nullms", None),
    ] + [(f"{i:024x}", 1_600_000_000_000 + i * 997) for i in range(20)]
    # double ts_millis with NaN (ADVICE r14): cast('long') would give
    # 0, a uuid at the 1582 epoch; the key must be NULL instead
    nan_rows = [
        ("nan", float("nan")),
        ("ok", 1_600_000_000_000.0),
        ("zero", 0.0),
        (None, float("nan")),
    ]
    for rows, ddl in ((tu_rows, "ms long"), (nan_rows, "ms double")):
        df2 = spark.createDataFrame(rows, f"mongo_id string, {ddl}")
        got = df2.select(
            "mongo_id",
            "ms",
            timeuuid_deterministic(F.col("mongo_id"), F.col("ms")).alias("tu"),
        ).collect()
        assert len(got) == len(rows)
        for r in got:
            assert r["tu"] == _timeuuid_reference(r["mongo_id"], r["ms"]), r


def test_timeuuid_properties(spark):
    rows = [(f"{i:024x}", 1_600_000_000_000 + i * 1000) for i in range(20)]
    df = spark.createDataFrame(rows, "mongo_id string, ms long")
    out = df.select(
        "mongo_id",
        "ms",
        timeuuid_deterministic(F.col("mongo_id"), F.col("ms")).alias("tu"),
    ).collect()
    for r in out:
        u = _uuid.UUID(r["tu"])
        assert u.version == 1
        # embedded timestamp round-trips to the input milliseconds
        ms = (u.time - 0x01B21DD213814000) // 10000
        assert ms == r["ms"]
    # determinism: same inputs → same uuid (two evaluations)
    again = {
        r["mongo_id"]: r["tu"]
        for r in df.select(
            "mongo_id",
            timeuuid_deterministic(F.col("mongo_id"), F.col("ms")).alias("tu"),
        ).collect()
    }
    for r in out:
        assert again[r["mongo_id"]] == r["tu"]


def test_crypto_migration_roundtrip_flags(spark, sf_dir):
    """x_crypto_migration's roundtrip_ok must be TRUE for every row —
    the driver's rows-only gate can't see the values, so assert here."""
    from mongodb_etl_migration_spark.queries import QUERIES

    out = QUERIES["x_crypto_migration"](spark, sf_dir)
    assert out.filter(~F.col("roundtrip_ok")).count() == 0
    # the query encrypts every source row (data-independent, so the
    # DuckDB oracle can mirror it); all must come back re-encrypted
    assert out.filter(~F.col("reencrypted")).count() == 0


def test_crypto_migration_plaintext_passthrough(spark):
    """Reference branch semantics (encryption.py:290-324): sources that
    are not decryptable ciphertext are treated as already-plaintext and
    pass through with NULL content_encrypted / encryption_data."""
    from mongodb_etl_migration_spark.functions import crypto as X

    enc = X.make_salsa20_encrypt_udf("fixture-old-key", "fixt-iv")
    df = spark.createDataFrame(
        [(1, "not base64 ciphertext !!"), (2, "secret payload")],
        "id int, text string",
    ).select(
        "id",
        F.when(F.col("id") == 2, enc(F.col("text")))
        .otherwise(F.col("text"))
        .alias("content"),
        "text",
    )
    out = X.migrate_messages(
        df, "content", "fixture-old-key", "fixt-iv",
        master_key_hex="a" * 64, master_iv_hex="b" * 32,
    ).collect()
    by_id = {r["id"]: r for r in out}
    # plaintext row: passthrough, nothing encrypted
    assert by_id[1]["content_decrypted"] == "not base64 ciphertext !!"
    assert by_id[1]["content_encrypted"] is None
    assert by_id[1]["encryption_data"] is None
    # ciphertext row: decrypts to the original and is re-encrypted
    assert by_id[2]["content_decrypted"] == "secret payload"
    assert by_id[2]["content_encrypted"] is not None
    assert by_id[2]["encryption_data"] is not None
