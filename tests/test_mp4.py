"""ISO BMFF (MP4) container layer: box walk, sample tables, dispatch."""

from __future__ import annotations

import hashlib

import pytest

from mongodb_etl_migration_spark.operators import mp4 as V


def _sample(raw: bytes, track: dict, idx: int) -> bytes:
    """Bytes of sample ``idx`` as the track's sample table places them."""
    off, size = V.sample_ranges(track)[idx]
    return raw[off:off + size]


def _samples(n: int, tag: str = "a") -> list[bytes]:
    return [f"s-{tag}-{k}-{'y' * (k % 3)}".encode() for k in range(n)]


def test_build_parse_roundtrip_metadata():
    for n in (1, 2, 5, 8):
        raw = V.build_mp4(_samples(n), width=320, height=240, fps=25)
        info = V.parse_mp4(raw)
        assert info["brand"] == "isom"
        t = info["tracks"][0]
        assert (t["handler"], t["codec"]) == ("vide", "mp4v")
        assert (t["width"], t["height"]) == (320, 240)
        assert t["n_samples"] == n
        assert t["media_timescale"] == 25 and t["media_duration"] == n
        assert abs(info["duration_sec"] - n / 25) < 2e-3  # mvhd ms rounding


def test_sample_extraction_through_chunk_map():
    samples = _samples(7)
    raw = V.build_mp4(samples)
    t = V.parse_mp4(raw)["tracks"][0]
    # two samples per chunk -> 4 chunks for 7 samples
    assert len(t["chunk_offsets"]) == 4
    assert t["stsc"] == [(1, 2)]  # run-length rule covers chunks 2..4
    for i, want in enumerate(samples):
        assert _sample(raw, t, i) == want


def test_stsc_inheritance_beyond_last_entry():
    # hand-extend the stsc with an explicit second run: chunks >= 2
    # carry 3 samples; verify resolution honors the run boundaries
    t = {
        "sample_sizes": [4, 4, 4, 4, 4, 4, 4, 4],
        "chunk_offsets": [100, 200, 300],
        "stsc": [(1, 2), (2, 3)],
    }
    ranges = V.sample_ranges(t)
    assert ranges == [
        (100, 4), (104, 4),            # chunk 1: 2 samples
        (200, 4), (204, 4), (208, 4),  # chunk 2: 3 samples
        (300, 4), (304, 4), (308, 4),  # chunk 3 inherits 3
    ]


def test_malformed_streams_raise():
    good = V.build_mp4(_samples(3))
    with pytest.raises(ValueError, match="ftyp"):
        V.parse_mp4(b"\x00\x00\x00\x08free" + good[8:])
    with pytest.raises(ValueError):
        V.parse_mp4(good[:40])  # truncated mid-box
    # box size overflowing its container
    bad = bytearray(good)
    bad[0:4] = (len(good) + 100).to_bytes(4, "big")
    with pytest.raises(ValueError, match="overflows|truncated"):
        V.parse_mp4(bytes(bad))
    # chunk map shorter than sample count
    t = {"sample_sizes": [1] * 5, "chunk_offsets": [10], "stsc": [(1, 2)]}
    with pytest.raises(ValueError, match="chunk map"):
        V.sample_ranges(t)


def test_largesize_and_co64_parse():
    raw = bytearray(V.build_mp4(_samples(2)))
    # rewrite ftyp as a largesize box (size=1 + 64-bit size); all
    # following offsets shift by 8, so patch stco entries too
    ftyp_len = int.from_bytes(raw[0:4], "big")
    body = bytes(raw[8:ftyp_len])
    big = (
        (1).to_bytes(4, "big") + b"ftyp"
        + (ftyp_len + 8).to_bytes(8, "big") + body
    )
    patched = bytearray(big + raw[ftyp_len:])
    info0 = V.parse_mp4(bytes(raw))
    t0 = info0["tracks"][0]
    # locate stco offsets in the patched file and shift them
    idx = bytes(patched).rfind(b"stco")
    n = int.from_bytes(patched[idx + 8:idx + 12], "big")
    for i in range(n):
        o = idx + 12 + 4 * i
        old = int.from_bytes(patched[o:o + 4], "big")
        patched[o:o + 4] = (old + 8).to_bytes(4, "big")
    info = V.parse_mp4(bytes(patched))
    t = info["tracks"][0]
    assert t["n_samples"] == t0["n_samples"]
    assert _sample(bytes(patched), t, 1) == _sample(
        bytes(raw), t0, 1
    )


def test_spark_sample_frames_extracts_real_mp4_samples(spark):
    import pandas as pd

    from mongodb_etl_migration_spark.operators import multimodal as M
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    samples = {1: _samples(5, "v1"), 2: _samples(3, "v2")}
    rows = [
        (did, V.build_mp4(s), {"media_type": "video", "byte_size": 0})
        for did, s in samples.items()
    ]
    schema = StructType(
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
    df = spark.createDataFrame(rows, schema)
    got = {
        (r.doc_id, r.frame_idx): r.frame_digest
        for r in M.sample_frames(df, every_n=2).collect()
    }
    want = {
        (did, k): hashlib.md5(s[k]).hexdigest()
        for did, s in samples.items()
        for k in range(0, len(s), 2)
    }
    assert got == want
    # decode_media reports REAL container dims/frames for MP4 payloads
    meta = {r.doc_id: r for r in M.decode_media(df).collect()}
    assert meta[1].width == 64 and meta[1].height == 48
    assert meta[1].n_frames == 5 and meta[2].n_frames == 3
    # a corrupt MP4 falls back to the stub, never crashes the task
    bad = bytearray(V.build_mp4(_samples(2)))
    bad[20] ^= 0xFF
    df_bad = spark.createDataFrame(
        [(9, bytes(bad), {"media_type": "video", "byte_size": 0})], schema
    )
    assert M.sample_frames(df_bad, every_n=2).count() >= 1


def test_spark_sample_frames_decodes_mjpeg_in_mp4(spark):
    """MJPEG-in-MP4 closes the decode stub: a codec-'jpeg' track's
    samples are real JPEG streams; sample_frames must extract each
    sampled frame's exact bytes from mdat AND decode them through
    parse_jpeg — digest/mean over decoded pixels, exact against the
    quantization-roundtrip theory. A corrupt member inside a jpeg
    track degrades that frame to a raw-bytes digest (NULL mean),
    never a dropped row."""
    import numpy as np
    import pandas as pd  # noqa: F401

    from mongodb_etl_migration_spark.operators import multimodal as M
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    def flat(v):
        px = np.full((8, 16, 3), v, dtype=np.uint8)
        return px

    vals = [64, 72, 96, 120]  # Annex-K roundtrip-exact family
    frames = [flat(v) for v in vals]
    jpegs = [M.encode_jpeg(px) for px in frames]
    raw = V.build_mp4(jpegs, width=16, height=8, codec=b"jpeg")
    schema = StructType(
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
    df = spark.createDataFrame(
        [(1, raw, {"media_type": "video", "byte_size": 0})], schema
    )
    got = {
        r.frame_idx: (r.frame_digest, r.frame_mean)
        for r in M.sample_frames(df, every_n=2).collect()
    }
    assert set(got) == {0, 2}
    for k in (0, 2):
        assert got[k] == (
            hashlib.md5(frames[k].tobytes()).hexdigest(),
            float(vals[k]),
        )
    # corrupt one sampled member: that frame degrades, others decode
    t = V.parse_mp4(raw)["tracks"][0]
    off, size = V.sample_ranges(t)[2]
    bad = bytearray(raw)
    bad[off + 2] ^= 0xFF  # clobber inside the JPEG stream
    df_bad = spark.createDataFrame(
        [(2, bytes(bad), {"media_type": "video", "byte_size": 0})], schema
    )
    got_bad = {
        r.frame_idx: (r.frame_digest, r.frame_mean)
        for r in M.sample_frames(df_bad, every_n=2).collect()
    }
    assert got_bad[0] == got[0]  # untouched frame still decodes
    assert got_bad[2][1] is None  # degraded: raw digest, NULL mean
    assert got_bad[2][0] == hashlib.md5(bytes(bad[off:off + size])).hexdigest()


def test_mp4_roundtrip_property():
    """build→parse→extract over arbitrary sample sizes/counts —
    including empty samples and odd chunk boundaries."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(st.binary(max_size=64), min_size=1, max_size=9),
        st.integers(min_value=1, max_value=4096),
        st.integers(min_value=1, max_value=4096),
    )
    def roundtrip(samples, w, h):
        raw = V.build_mp4(samples, width=w, height=h)
        t = V.parse_mp4(raw)["tracks"][0]
        assert (t["width"], t["height"]) == (w, h)
        assert t["n_samples"] == len(samples)
        for i, want in enumerate(samples):
            assert _sample(raw, t, i) == want

    roundtrip()
