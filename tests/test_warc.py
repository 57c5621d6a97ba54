"""WARC reader edge cases: framing, HTTP unwrap, malformed streams."""

from __future__ import annotations

import io

import pytest

from mongodb_etl_migration_spark.sources import warc as W


def _parse(raw: bytes) -> list[dict]:
    return list(W.iter_warc_stream(io.BytesIO(raw)))


def test_roundtrip_mixed_records():
    raw = W.build_warc(
        [
            {"warc_type": "warcinfo", "payload": b"k=v"},
            {
                "warc_type": "response",
                "target_uri": "https://a.com/x",
                "http": (200, "text/html", b"<p>hi</p>"),
            },
            {
                "warc_type": "request",
                "target_uri": "https://a.com/x",
                "payload": b"GET /x HTTP/1.1\r\n\r\n",
            },
        ]
    )
    recs = _parse(raw)
    assert [r["warc_type"] for r in recs] == ["warcinfo", "response", "request"]
    status, ctype, body = W.parse_http_response(recs[1]["payload"])
    assert (status, ctype, body) == (200, "text/html", b"<p>hi</p>")


def test_payload_may_contain_crlf_and_fake_version_lines():
    # Content-Length framing must win over anything inside the body
    tricky = b"WARC/1.0\r\n\r\nnot a record\r\n\r\n"
    raw = W.build_warc(
        [{"warc_type": "resource", "target_uri": "u", "payload": tricky}]
    )
    recs = _parse(raw)
    assert len(recs) == 1 and recs[0]["payload"] == tricky


def test_malformed_streams_raise():
    with pytest.raises(ValueError):
        _parse(b"HTTP/1.1 200 OK\r\n\r\n")  # not WARC
    good = W.build_warc(
        [{"warc_type": "resource", "target_uri": "u", "payload": b"abcdef"}]
    )
    with pytest.raises(ValueError):
        _parse(good[:-10])  # truncated payload
    # missing Content-Length
    with pytest.raises(ValueError):
        _parse(b"WARC/1.0\r\nWARC-Type: resource\r\n\r\nx")
    with pytest.raises(ValueError):
        W.parse_http_response(b"not http at all")


def test_explode_warc_null_status_for_non_http(spark):
    raw = W.build_warc(
        [
            {"warc_type": "resource", "target_uri": "u", "payload": b"plain"},
            {
                "warc_type": "response",
                "target_uri": "v",
                "http": (301, "text/plain", b"moved"),
            },
        ]
    )
    df = spark.createDataFrame(
        [(1, bytearray(raw))], "doc_id long, payload binary"
    )
    rows = {r.record_idx: r for r in W.explode_warc(df).collect()}
    assert rows[0].http_status is None and rows[0].body == "plain"
    assert rows[1].http_status == 301 and rows[1].body == "moved"


def test_explode_warc_raises_on_bare_lf_header_line(spark):
    """A header line holding a bare LF is not CRLF-framed: the record
    must fail loudly, not come back with warc_type 'resource\nX: y'."""
    raw = (
        b"WARC/1.0\r\n"
        b"WARC-Type: resource\nX: y\r\n"
        b"Content-Length: 1\r\n\r\nx\r\n\r\n"
    )
    df = spark.createDataFrame(
        [(1, bytearray(raw))], "doc_id long, payload binary"
    )
    with pytest.raises(Exception, match="unterminated WARC header block"):
        W.explode_warc(df).collect()


def test_malformed_http_status_lines_raise_valueerror():
    with pytest.raises(ValueError):
        W.parse_http_response(b"HTTP/1.1\r\n\r\nbody")  # no status code
    with pytest.raises(ValueError):
        W.parse_http_response(b"HTTP/1.1 abc OK\r\n\r\nbody")
