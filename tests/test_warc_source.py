"""format("warc") file-based source: gzip members, filters, corruption."""

from __future__ import annotations

import gzip
import io

import pytest

from mongodb_etl_migration_spark.sources import warc as W


def _mixed_records(n: int, base: str = "a") -> list[dict]:
    recs = [{"warc_type": "warcinfo", "payload": f"shard={base}".encode()}]
    for i in range(1, n + 1):
        recs.append(
            {
                "warc_type": "response" if i % 3 else "request",
                "target_uri": f"https://{base}.com/p/{i}",
                "http": (200 if i % 4 else 404, "text/html", f"<p>{base}{i}</p>".encode()),
            }
            if i % 3
            else {
                "warc_type": "request",
                "target_uri": f"https://{base}.com/p/{i}",
                "payload": f"GET /p/{i} HTTP/1.1\r\n\r\n".encode(),
            }
        )
    return recs


def test_iter_warc_stream_error_contract():
    good = W.build_warc(_mixed_records(3))
    with pytest.raises(ValueError, match="truncated WARC payload"):
        list(W.iter_warc_stream(io.BytesIO(good[:-10])))
    with pytest.raises(ValueError, match="bad WARC version line"):
        list(W.iter_warc_stream(io.BytesIO(b"HTTP/1.1 200 OK\r\n\r\n")))
    with pytest.raises(ValueError, match="Content-Length"):
        list(
            W.iter_warc_stream(
                io.BytesIO(b"WARC/1.0\r\nWARC-Type: resource\r\n\r\nx")
            )
        )


def test_build_warc_gz_is_multi_member_and_transparent():
    recs = _mixed_records(5)
    gz = W.build_warc_gz(recs)
    # one gzip member per record: member magic occurs >= len(recs) times
    assert gz.count(b"\x1f\x8b\x08") >= len(recs)
    assert list(
        W.iter_warc_stream(gzip.GzipFile(fileobj=io.BytesIO(gz)))
    ) == list(W.iter_warc_stream(io.BytesIO(W.build_warc(recs))))


@pytest.fixture()
def shard_dir(tmp_path):
    """Two shards: one plain .warc, one per-record-gzip .warc.gz."""
    (tmp_path / "s0.warc").write_bytes(W.build_warc(_mixed_records(4, "a")))
    (tmp_path / "s1.warc.gz").write_bytes(W.build_warc_gz(_mixed_records(6, "b")))
    return str(tmp_path)


def _read(spark, path, **options):
    from mongodb_etl_migration_spark.sources.warc_source import register_warc

    register_warc(spark)
    r = spark.read.format("warc")
    for k, v in options.items():
        r = r.option(k, v)
    return r.load(path)


def test_source_reads_plain_and_gz(spark, shard_dir):
    rows = _read(spark, shard_dir).collect()
    by_file: dict[str, list] = {}
    for r in rows:
        by_file.setdefault(r.path.rsplit("/", 1)[-1], []).append(r)
    assert sorted(by_file) == ["s0.warc", "s1.warc.gz"]
    assert len(by_file["s0.warc"]) == 5  # warcinfo + 4
    assert len(by_file["s1.warc.gz"]) == 7
    for recs in by_file.values():
        recs.sort(key=lambda r: r.record_idx)
        assert [r.record_idx for r in recs] == list(range(len(recs)))
        assert recs[0].warc_type == "warcinfo"
        assert recs[0].http_status is None  # non-HTTP payload
        assert recs[0].body.startswith("shard=")
    resp = [r for r in by_file["s1.warc.gz"] if r.warc_type == "response"]
    assert {r.http_status for r in resp} <= {200, 404}
    assert all(r.content_type == "text/html" for r in resp)
    assert all(r.body.startswith("<p>b") for r in resp)


def test_source_filter_pushdown_semantics(spark, shard_dir):
    df = _read(spark, shard_dir)
    resp = df.filter("warc_type = 'response' AND http_status = 200")
    rows = resp.collect()
    assert rows and all(
        r.warc_type == "response" and r.http_status == 200 for r in rows
    )
    # record_idx reflects position in FILE, not post-filter ordinal
    assert max(r.record_idx for r in rows) > len(rows) / 2


def test_source_pushed_filters_do_not_leak_into_later_queries(spark, shard_dir):
    df = _read(spark, shard_dir)
    assert df.filter("warc_type = 'warcinfo'").count() == 2
    assert df.count() == 12


def test_source_filters_do_not_leak_between_scans_of_one_plan(spark, shard_dir):
    """Both branches of one plan scan the same loaded frame; Spark
    keeps one reader per frame, so a filter either branch pushed into
    the reader would apply to the other branch too."""
    df = _read(spark, shard_dir)
    info = df.filter("warc_type = 'warcinfo'")
    rest = df.filter("warc_type != 'warcinfo'")
    assert info.unionByName(rest).count() == df.count() == 12


def test_source_failfast_on_corrupt_member(spark, tmp_path):
    recs = _mixed_records(4, "c")
    gz = bytearray(W.build_warc_gz(recs))
    # corrupt the SECOND gzip member's deflate stream mid-file
    second = gz.index(b"\x1f\x8b\x08", 3)
    gz[second + 12] ^= 0xFF
    p = tmp_path / "bad.warc.gz"
    p.write_bytes(bytes(gz))
    with pytest.raises(Exception, match="bad.warc.gz"):
        _read(spark, str(p)).collect()


def test_source_permissive_keeps_prefix_and_marks(spark, tmp_path):
    recs = _mixed_records(4, "c")
    gz = bytearray(W.build_warc_gz(recs))
    second = gz.index(b"\x1f\x8b\x08", 3)
    gz[second + 12] ^= 0xFF
    p = tmp_path / "bad.warc.gz"
    p.write_bytes(bytes(gz))
    rows = _read(spark, str(p), mode="PERMISSIVE").collect()
    ok = [r for r in rows if r._corrupt_record is None]
    bad = [r for r in rows if r._corrupt_record is not None]
    assert len(ok) >= 1  # the valid prefix survives
    assert len(bad) == 1 and "bad.warc.gz" in bad[0]._corrupt_record
    assert bad[0].warc_type is None
    # truncated plain .warc: same contract
    raw = W.build_warc(recs)
    q = tmp_path / "trunc.warc"
    q.write_bytes(raw[:-15])
    rows = _read(spark, str(q), mode="PERMISSIVE").collect()
    assert [r._corrupt_record is None for r in rows].count(False) == 1
    assert len(rows) == len(recs)  # 4 good + 1 marker, last record lost


def test_source_permissive_marker_respects_pushed_filters(spark, tmp_path):
    recs = _mixed_records(3, "d")
    raw = W.build_warc(recs)
    p = tmp_path / "t.warc"
    p.write_bytes(raw[:-10])
    df = _read(spark, str(p), mode="PERMISSIVE")
    # an IsNotNull filter on warc_type must not leak the all-NULL marker
    rows = df.filter("warc_type IS NOT NULL").collect()
    assert all(r._corrupt_record is None for r in rows)


def test_warc_streaming_tails_new_shards(spark, tmp_path):
    """Each dropped crawl shard is ingested exactly once, late-sorting
    names included; schema matches the batch reader's."""
    from mongodb_etl_migration_spark.sources.warc_source import (
        WARC_SOURCE_FIELDS,
        register_warc,
    )
    from pyspark.sql.types import StructType

    register_warc(spark)
    src = tmp_path / "drops"
    src.mkdir()
    out = tmp_path / "out"
    chk = tmp_path / "chk"

    def run_batch():
        q = (
            spark.readStream.format("warc")
            .schema(StructType(list(WARC_SOURCE_FIELDS)))
            .option("path", str(src))
            .load()
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(chk))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    (src / "s5.warc.gz").write_bytes(W.build_warc_gz(_mixed_records(3, "a")))
    run_batch()
    # late-arriving shard that SORTS BEFORE the already-emitted one
    (src / "s1.warc").write_bytes(W.build_warc(_mixed_records(2, "b")))
    run_batch()
    got = spark.read.parquet(str(out))
    by_file = {
        r.path.rsplit("/", 1)[-1]: r.cnt
        for r in got.groupBy("path").count().withColumnRenamed("count", "cnt").collect()
    }
    assert by_file == {"s5.warc.gz": 4, "s1.warc": 3}  # warcinfo + n
    # replaying the same drops adds nothing
    run_batch()
    assert spark.read.parquet(str(out)).count() == 7


def test_warc_stream_curation_matches_batch(spark, tmp_path):
    """The streaming ingest + foreachBatch curation twin produces
    exactly the batch pipeline's rows over the same shards — the
    property that lets one curation codebase serve both modes."""
    from pyspark.sql import functions as F

    from mongodb_etl_migration_spark.operators import web as WB
    from mongodb_etl_migration_spark.sources.warc_source import (
        WARC_SOURCE_FIELDS,
        register_warc,
    )
    from pyspark.sql.types import StructType

    register_warc(spark)
    src = tmp_path / "drops"
    src.mkdir()
    (src / "c1.warc").write_bytes(W.build_warc(_mixed_records(5, "a")))
    (src / "c2.warc.gz").write_bytes(W.build_warc_gz(_mixed_records(7, "b")))

    from mongodb_etl_migration_spark.operators import text as T

    def curate(df):
        # streaming-safe curation: extraction + the model-based gate
        # and real-BPE budget counter are all pure Column expressions,
        # so the SAME code path serves both modes
        txt = WB.html_to_text(F.col("body"))
        return df.filter(
            (F.col("warc_type") == "response") & (F.col("http_status") == 200)
        ).select(
            "target_uri",
            txt.alias("text"),
            T.classifier_margin_inline(txt).alias("margin"),
        ).withColumn("bpe_tokens", T.bpe_token_count("text"))

    expected = sorted(
        (r.target_uri, r.text, r.margin, r.bpe_tokens)
        for r in curate(
            spark.read.format("warc").load(str(src))
        ).collect()
    )
    assert expected  # fixture produces 200-responses

    out = tmp_path / "out"
    q = (
        spark.readStream.format("warc")
        .schema(StructType(list(WARC_SOURCE_FIELDS)))
        .option("path", str(src))
        .load()
        .writeStream.foreachBatch(
            lambda df, _epoch: curate(df)
            .write.mode("append")
            .parquet(str(out))
        )
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    got = sorted(
        (r.target_uri, r.text, r.margin, r.bpe_tokens)
        for r in spark.read.parquet(str(out)).collect()
    )
    assert got == expected


def test_warc_stream_roundtrip_property():
    """iter_warc_stream recovers arbitrary payloads — including CRLF,
    0xFF, fake version lines, and empty bodies — exactly, from plain
    bytes and from per-record gzip members alike."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    rec = st.fixed_dictionaries(
        {
            "warc_type": st.sampled_from(["response", "request", "metadata"]),
            "target_uri": st.text(
                alphabet="abcdefghij:/.-", max_size=24
            ).map(lambda s: s.replace("\r", "").replace("\n", "")),
            "payload": st.binary(max_size=200),
        }
    )

    @settings(max_examples=40, deadline=None)
    @given(st.lists(rec, min_size=0, max_size=6))
    def roundtrip(recs):
        raw = W.build_warc(recs)
        via_stream = list(W.iter_warc_stream(io.BytesIO(raw)))
        gz = W.build_warc_gz(recs)
        via_gz = list(W.iter_warc_stream(gzip.GzipFile(fileobj=io.BytesIO(gz))))
        assert via_gz == via_stream
        assert [r["payload"] for r in via_stream] == [r["payload"] for r in recs]

    roundtrip()


def test_warc_streaming_starts_on_empty_directory(spark, tmp_path):
    """A stream may start before the crawler's first drop: polling an
    empty directory must be an empty batch, not FileNotFoundError."""
    from mongodb_etl_migration_spark.sources.warc_source import (
        WARC_SOURCE_FIELDS,
        register_warc,
    )
    from pyspark.sql.types import StructType

    register_warc(spark)
    src = tmp_path / "drops"
    src.mkdir()
    out = tmp_path / "out"

    def run_batch():
        q = (
            spark.readStream.format("warc")
            .schema(StructType(list(WARC_SOURCE_FIELDS)))
            .option("path", str(src))
            .load()
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(tmp_path / "chk"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    run_batch()  # empty dir: must not crash
    (src / "a.warc").write_bytes(W.build_warc(_mixed_records(2, "e")))
    run_batch()
    assert spark.read.parquet(str(out)).count() == 3


def test_warc_writer_roundtrip(spark, tmp_path, shard_dir):
    """read -> curate -> WRITE .warc.gz -> read back: survivors
    round-trip field-for-field through the container."""
    from pyspark.sql import functions as F

    df = _read(spark, shard_dir).filter("warc_type = 'response'")
    out = str(tmp_path / "curated")
    df.select(
        "warc_type", "target_uri", "date",
        "http_status", "content_type", "body",
    ).repartition(2).write.format("warc").mode("overwrite").save(out)

    import glob as g
    files = g.glob(f"{out}/part-*.warc.gz")
    assert 1 <= len(files) <= 2 and not g.glob(f"{out}/._tmp-*")

    back = _read(spark, out)
    want = sorted(
        (r.target_uri, r.http_status, r.content_type, r.body, r.date)
        for r in df.collect()
    )
    got = sorted(
        (r.target_uri, r.http_status, r.content_type, r.body, r.date)
        for r in back.collect()
    )
    assert got == want
    # non-HTTP rows round-trip as raw payloads with NULL status
    raw = spark.createDataFrame(
        [("metadata", "https://m.com/x", "2024-02-02T00:00:00Z", None, None, "k=v")],
        "warc_type string, target_uri string, date string, "
        "http_status long, content_type string, body string",
    )
    out2 = str(tmp_path / "raw")
    # Python data sources accept only append/overwrite save modes
    raw.write.format("warc").mode("append").save(out2)
    r = _read(spark, out2).collect()[0]
    assert (r.warc_type, r.http_status, r.body) == ("metadata", None, "k=v")
    # overwrite replaces previous shards
    raw.write.format("warc").mode("overwrite").save(out2)
    assert _read(spark, out2).count() == 1


def test_warc_writer_binary_body_bytes_roundtrip(spark, tmp_path):
    """Binary payloads (not valid UTF-8 — images, gzip bodies) round-
    trip byte-exact through the with_bytes reader column + the
    writer's body_bytes-wins rule; the string `body` path alone is
    lossy on them (utf-8/replace), which is exactly the gap the
    binary column closes."""
    payload = bytes([0xFF, 0xD8, 0x00, 0x9C, 0x80, 0x0A, 0xFE]) * 3
    raw = W.build_warc(
        [{
            "warc_type": "response",
            "target_uri": "https://b.com/img",
            "date": "2024-03-03T00:00:00Z",
            "http": (200, "image/jpeg", payload),
        }]
    )
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.warc").write_bytes(raw)
    df = (
        spark.read.format("warc")
        .option("with_bytes", "true")
        .load(str(src))
    )
    first = df.collect()[0]
    assert bytes(first.body_bytes) == payload
    out = str(tmp_path / "out")
    df.select(
        "warc_type", "target_uri", "date",
        "http_status", "content_type", "body", "body_bytes",
    ).write.format("warc").mode("append").save(out)
    back = (
        spark.read.format("warc")
        .option("with_bytes", "true")
        .load(out)
        .collect()[0]
    )
    assert bytes(back.body_bytes) == payload
    assert (back.http_status, back.content_type) == (200, "image/jpeg")
    # and the string-only path is demonstrably NOT byte-exact here
    out2 = str(tmp_path / "out2")
    df.select(
        "warc_type", "target_uri", "date",
        "http_status", "content_type", "body",
    ).write.format("warc").mode("append").save(out2)
    lossy = (
        spark.read.format("warc")
        .option("with_bytes", "true")
        .load(out2)
        .collect()[0]
    )
    assert bytes(lossy.body_bytes) != payload


def test_warc_writer_preserves_absent_metadata(spark, tmp_path):
    """read -> write -> read is IDENTITY even for records lacking a
    WARC-Date (parsed as ''): write-back must not fabricate one."""
    raw = (
        b"WARC/1.0\r\n"
        b"WARC-Type: metadata\r\n"
        b"WARC-Target-URI: https://m.com/x\r\n"
        b"Content-Length: 3\r\n\r\nk=v\r\n\r\n"
    )
    src = tmp_path / "in"
    src.mkdir()
    (src / "a.warc").write_bytes(raw)
    first = _read(spark, str(src)).collect()[0]
    assert first.date == ""  # no WARC-Date header
    out = str(tmp_path / "out")
    _read(spark, str(src)).select(
        "warc_type", "target_uri", "date",
        "http_status", "content_type", "body",
    ).write.format("warc").mode("append").save(out)
    second = _read(spark, out).collect()[0]
    assert (second.warc_type, second.target_uri, second.date, second.body) == (
        first.warc_type, first.target_uri, first.date, first.body
    )


def test_commit_sweeps_crashed_tmp_leftovers(spark, tmp_path):
    from pyspark.sql import functions as F  # noqa: F401

    out = tmp_path / "o"
    out.mkdir()
    (out / "._tmp-deadbeef").write_bytes(b"crashed prior job")
    df = spark.createDataFrame(
        [("resource", "https://a.com/x", "", None, None, "b")],
        "warc_type string, target_uri string, date string, "
        "http_status long, content_type string, body string",
    )
    df.write.format("warc").mode("overwrite").save(str(out))
    import glob as g

    assert not g.glob(f"{out}/._tmp-*")  # leftover swept
    assert _read(spark, str(out)).count() == 1


def test_warc_source_reads_whole_stream_gzip(spark, tmp_path):
    """A .warc.gz that is ONE gzip stream spanning many records (tar-
    style whole-file compression, vs Common Crawl's per-record
    members) must read identically: gzip.open spans both layouts."""
    import gzip as _gzip

    from mongodb_etl_migration_spark.sources.warc import build_warc

    recs = [
        {
            "warc_type": "response",
            "target_uri": f"https://w.com/{i}",
            "http": (200, "text/html", f"<p>doc {i}</p>".encode()),
        }
        for i in range(5)
    ]
    src = tmp_path / "in"
    src.mkdir()
    (src / "whole.warc.gz").write_bytes(
        _gzip.compress(build_warc(recs), mtime=0)
    )
    out = _read(spark, str(src)).orderBy("record_idx").collect()
    assert [r.target_uri for r in out] == [
        f"https://w.com/{i}" for i in range(5)
    ]
    assert all(r.http_status == 200 for r in out)
