"""Crypto migration operators — SURVEY.md §2.3 F22–F26.

Re-expresses /root/reference/etl/utils/encryption.py (Salsa20-decrypt →
AES-256-CBC re-encrypt with password-derived keys wrapped by a master
key) Spark-first:

- Salsa20 has no Spark builtin → pure-Python implementation of the
  public djb Salsa20 spec (https://cr.yp.to/snuffle/spec.pdf), exposed
  as an Arrow-batched pandas UDF (pycryptodome is not available in this
  environment; the cipher is a published algorithm).
- The AES-256-CBC layer uses Spark's JVM-side ``aes_encrypt`` /
  ``aes_decrypt`` builtins (Spark ≥3.4) with an explicit IV, so
  re-encryption of 100 TB of messages never leaves the JVM.
- Key derivation (sha256(password) / sha256(password+"_iv")[:16],
  encryption.py:119-154) is a constant per password → computed once
  driver-side, broadcast as literals.

Spark's CBC output prepends the 16-byte IV (and expects it prepended on
decrypt); the reference's wire format carries the IV separately in
``encryptionData``. The helpers below strip/prepend the IV so the
produced base64 matches the reference format byte-for-byte.
"""

from __future__ import annotations

import base64
import hashlib
import json
import struct

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# --------------------------------------------------------------- Salsa20
_SIGMA = (0x61707865, 0x3320646E, 0x79622D32, 0x6B206574)  # "expand 32-byte k"


def _rotl32(x: int, n: int) -> int:
    return ((x << n) | (x >> (32 - n))) & 0xFFFFFFFF


def _salsa20_core(state: list[int]) -> list[int]:
    """20-round Salsa20 core over 16 little-endian uint32 words."""
    x = list(state)

    def qr(a: int, b: int, c: int, d: int) -> None:
        x[b] ^= _rotl32((x[a] + x[d]) & 0xFFFFFFFF, 7)
        x[c] ^= _rotl32((x[b] + x[a]) & 0xFFFFFFFF, 9)
        x[d] ^= _rotl32((x[c] + x[b]) & 0xFFFFFFFF, 13)
        x[a] ^= _rotl32((x[d] + x[c]) & 0xFFFFFFFF, 18)

    for _ in range(10):  # 10 double-rounds = 20 rounds
        qr(0, 4, 8, 12); qr(5, 9, 13, 1); qr(10, 14, 2, 6); qr(15, 3, 7, 11)
        qr(0, 1, 2, 3); qr(5, 6, 7, 4); qr(10, 11, 8, 9); qr(15, 12, 13, 14)
    return [(a + b) & 0xFFFFFFFF for a, b in zip(x, state)]


def _salsa20_block(key: bytes, nonce: bytes, counter: int) -> bytes:
    k = struct.unpack("<8I", key)
    n = struct.unpack("<2I", nonce)
    state = [
        _SIGMA[0], k[0], k[1], k[2], k[3],
        _SIGMA[1], n[0], n[1],
        counter & 0xFFFFFFFF, (counter >> 32) & 0xFFFFFFFF,
        _SIGMA[2], k[4], k[5], k[6], k[7],
        _SIGMA[3],
    ]
    return struct.pack("<16I", *_salsa20_core(state))


def salsa20_xor(key: bytes, nonce: bytes, data: bytes) -> bytes:
    """Encrypt/decrypt (stream XOR) with Salsa20/20, 32-byte key,
    8-byte nonce, counter starting at 0 — the pycryptodome
    ``Salsa20.new(key, nonce)`` behavior the reference relies on
    (encryption.py:76-79)."""
    out = bytearray(len(data))
    for blk in range((len(data) + 63) // 64):
        ks = _salsa20_block(key, nonce, blk)
        lo = blk * 64
        hi = min(lo + 64, len(data))
        for i in range(lo, hi):
            out[i] = data[i] ^ ks[i - lo]
    return bytes(out)


def prepare_salsa_key(key: str) -> bytes:
    """Zero-pad/truncate a passphrase to 32 bytes — encryption.py:34-44."""
    b = key.encode("utf-8")[:32]
    return b.ljust(32, b"\x00")


def prepare_salsa_iv(iv: str) -> bytes:
    """Zero-pad/truncate a nonce string to 8 bytes — encryption.py:46-56."""
    b = iv.encode("utf-8")[:8]
    return b.ljust(8, b"\x00")


def salsa20_decrypt_str(key: str, iv: str, encrypted_b64: str | None) -> str | None:
    """Single-value decrypt with the reference's edge-semantics
    (encryption.py:58-91): empty → '', bad base64 / non-UTF8 → None."""
    if encrypted_b64 is None or encrypted_b64 == "":
        return "" if encrypted_b64 == "" else None
    try:
        raw = base64.b64decode(encrypted_b64)
        plain = salsa20_xor(prepare_salsa_key(key), prepare_salsa_iv(iv), raw)
        return plain.decode("utf-8")
    except Exception:
        return None


def salsa20_encrypt_str(key: str, iv: str, plaintext: str) -> str:
    """Inverse of :func:`salsa20_decrypt_str` — used to build fixtures
    and the round-trip property test (encryption.py:326-353)."""
    raw = salsa20_xor(
        prepare_salsa_key(key), prepare_salsa_iv(iv), plaintext.encode("utf-8")
    )
    return base64.b64encode(raw).decode("ascii")


def make_salsa20_encrypt_udf(key: str, iv: str):
    """Vectorized Salsa20 encrypt column — fixture/builder twin of the
    decrypt UDF (used to synthesize encrypted corpora in tests and the
    crypto demo query; the reference only ever decrypts Salsa20)."""
    kb, nb = prepare_salsa_key(key), prepare_salsa_iv(iv)

    @pandas_udf(StringType())
    def _encrypt(col: pd.Series) -> pd.Series:
        def one(v: str | None) -> str | None:
            if v is None:
                return None
            raw = salsa20_xor(kb, nb, v.encode("utf-8"))
            return base64.b64encode(raw).decode("ascii")

        return col.map(one)

    return _encrypt


def make_salsa20_decrypt_udf(key: str, iv: str):
    """Vectorized Salsa20 decrypt column — F22 (encryption.py:20-91),
    per value :func:`salsa20_decrypt_str`."""

    @pandas_udf(StringType())
    def _decrypt(col: pd.Series) -> pd.Series:
        return col.map(lambda v: salsa20_decrypt_str(key, iv, v))

    return _decrypt


def make_salsa20_decrypt_fallback_udf(key: str, iv: str):
    """Salsa20 decrypt with the plaintext fallback INSIDE the UDF:
    not-decryptable (or empty-decrypting) input is returned verbatim —
    data_transformer.py:397-419's try/except branch as one vectorized
    call.

    Folding the fallback into Python (instead of the previous
    ``coalesce(nullif(dec(c),''), c)`` wrapper) matters for plan
    shape: the whole decrypt-or-passthrough is ONE UDF expression, so
    a single projection alias carries it and downstream consumers
    reference the attribute, never a second UDF call.
    """

    @pandas_udf(StringType())
    def _decrypt_fb(col: pd.Series) -> pd.Series:
        def one(v: str | None) -> str | None:
            plain = salsa20_decrypt_str(key, iv, v)
            return plain if plain else v

        return col.map(one)

    # Nondeterministic ON PURPOSE (it is in fact deterministic): this
    # stops PushPredicateThroughNonJoin substituting the alias into a
    # pushed-down filter and CollapseProject inlining it into N
    # consumers — either would re-evaluate the cipher per consumer.
    # Round-2 measured exactly that: the messages .pdf gate + its
    # projection cost 2 ArrowEvalPython stages. With one call site the
    # old objection to asNondeterministic (it disables dedup of
    # *multiple* equal calls) no longer applies.
    return _decrypt_fb.asNondeterministic()


def make_url_decrypt_rewrite(key: str, iv: str):
    """F26+F5 combined: Salsa20-decrypt a URL column with plaintext
    fallback (not-decryptable ⇒ keep the raw value), then bucket-
    rewrite the result — the exact order of the reference's
    data_transformer.py:397-452. One shared implementation for the
    messages and docs stages so fallback semantics cannot drift.

    The returned builder contains exactly ONE Python call
    (``make_salsa20_decrypt_fallback_udf``); the bucket rewrite is a
    JVM expression on top. Bind it to a column with ``withColumn`` and
    reference the attribute downstream — the plan then carries a
    single ArrowEvalPython stage however many filters/projections
    consume it (verified by tests/test_plan_invariants.py).
    """
    from mongodb_etl_migration_spark.functions.scalars import (
        bucket_url_rewrite,
    )

    dec_fb = make_salsa20_decrypt_fallback_udf(key, iv)

    def col_builder(url_col) -> "Column":
        c = F.col(url_col) if isinstance(url_col, str) else url_col
        return bucket_url_rewrite(dec_fb(c))

    return col_builder


# ------------------------------------------------------- AES-256-CBC layer
def derive_password_key_iv(password: str) -> tuple[str, str]:
    """Deterministic key/iv from a password — encryption.py:129-139.
    Returns (key_hex 32B, iv_hex 16B)."""
    key_hex = hashlib.sha256(password.encode("utf-8")).hexdigest()
    iv_hex = hashlib.sha256((password + "_iv").encode("utf-8")).digest()[:16].hex()
    return key_hex, iv_hex


def aes_cbc_encrypt_col(data: Column, key_hex: str, iv_hex: str) -> Column:
    """AES-256-CBC + PKCS7 over a string column via JVM builtins,
    emitting raw ciphertext (reference wire format, IV carried
    separately) — encryption.py:190-226. Returns binary."""
    full = F.aes_encrypt(
        data.cast("binary"),
        F.unhex(F.lit(key_hex)),
        F.lit("CBC"),
        F.lit("PKCS"),
        F.unhex(F.lit(iv_hex)),
    )
    # Spark prepends the 16-byte IV; strip to match the reference format.
    return _strip_iv_col(full)


def _strip_iv_col(full: Column) -> Column:
    """Drop the 16-byte IV prefix Spark prepends to CBC output."""
    return F.substring(full, 17, 2147483647)


def generate_encryption_data(
    password: str, master_key_hex: str, master_iv_hex: str
) -> tuple[str, str, str]:
    """Password-derived (key_hex, iv_hex, encryptionData_b64) —
    encryption.py:119-154. encryptionData = base64(AES_master(JSON
    {key, iv})). Pure-driver computation (one constant per password);
    the AES-CBC here runs through a one-row Spark expression so we
    don't need a Python AES implementation."""
    from mongodb_etl_migration_spark.session import get_spark

    key_hex, iv_hex = derive_password_key_iv(password)
    payload = json.dumps({"key": key_hex, "iv": iv_hex})
    spark = get_spark()
    row = spark.range(1).select(
        F.base64(
            _strip_iv_col(
                F.aes_encrypt(
                    F.lit(payload).cast("binary"),
                    F.unhex(F.lit(master_key_hex)),
                    F.lit("CBC"),
                    F.lit("PKCS"),
                    F.unhex(F.lit(master_iv_hex)),
                )
            )
        ).alias("ed")
    ).head()
    return key_hex, iv_hex, row["ed"]


def migrate_messages(
    df: DataFrame,
    content_col: str,
    old_key: str,
    old_iv: str,
    master_key_hex: str,
    master_iv_hex: str,
    password: str = "some password",
) -> DataFrame:
    """F25: full re-encryption pipeline — encryption.py:290-324 +
    data_transformer.py:350-394.

    Adds columns:
      content_decrypted — Salsa20 plaintext, or the original value when
        it was not decryptable (treated as already-plaintext);
      content_encrypted — AES-256-CBC(base64) under the password-derived
        key (NULL when the source was plaintext, matching the
        reference's (original, None, None) branch);
      encryption_data — constant wrapped-key blob (NULL when plaintext).

    Decrypt is the only Python step (vectorized); the AES re-encrypt of
    the full message corpus is JVM-side.
    """
    key_hex, iv_hex, enc_data = generate_encryption_data(
        password, master_key_hex, master_iv_hex
    )
    dec = make_salsa20_decrypt_udf(old_key, old_iv)
    c = F.col(content_col)
    out = df.withColumn("__dec", dec(c))
    decryptable = F.col("__dec").isNotNull()
    return (
        out.withColumn(
            "content_decrypted", F.when(decryptable, F.col("__dec")).otherwise(c)
        )
        .withColumn(
            "content_encrypted",
            F.when(
                decryptable & (F.col("__dec") != ""),
                F.base64(
                    aes_cbc_encrypt_col(F.col("__dec"), key_hex, iv_hex)
                ),
            ),
        )
        .withColumn(
            "encryption_data",
            F.when(decryptable & (F.col("__dec") != ""), F.lit(enc_data)),
        )
        .drop("__dec")
    )
