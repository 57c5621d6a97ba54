"""WARC (ISO 28500) record reader — the Common Crawl container.

Web-corpus pipelines start from WARC files: concatenated records,
each a version line + CRLF headers + Content-Length-delimited payload;
'response' records wrap a full HTTP response (status line + headers +
body). This module parses that format dependency-free and exposes it
as the 1→N mapInPandas explode every crawl ingest needs (same Arrow
plumbing shape as multimodal.sample_frames): one row per WARC record,
with the HTTP layer unwrapped for response records.

The in-row ``explode_warc`` form requires a shard to fit one row —
fine for message-sized payloads, a row/Arrow hazard for real crawl
shards. For file-based ingest of ``.warc``/``.warc.gz`` shards (per-
record gzip members, the Common Crawl layout) use ``warc_source.py``'s
``format("warc")`` DataSource, which streams records out of the file
one at a time via ``iter_warc_stream``. Either way records explode
inside the scan stage, so the only shuffle in a WARC → extract →
curate pipeline is whatever the downstream curation operators need.
"""

from __future__ import annotations

import io
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

_CRLF = b"\r\n"


def build_warc(records: list[dict]) -> bytes:
    """Serialize records into a WARC/1.0 byte stream (the fixture/
    write side; also documents the exact shape iter_warc_stream
    accepts).
    Each record dict: warc_type, target_uri, date, and either
    ``payload`` (raw bytes) or ``http`` = (status, content_type,
    body_bytes) which is wrapped as an HTTP/1.1 response. An ABSENT
    ``date`` key stamps the fixture default; an EMPTY-string date
    omits the WARC-Date header entirely — so a record read with no
    date (parsed as '') round-trips through write-back unchanged
    instead of acquiring a fabricated timestamp."""
    out = bytearray()
    for r in records:
        if "http" in r:
            status, ctype, body = r["http"]
            payload = (
                f"HTTP/1.1 {status} X\r\n"
                f"Content-Type: {ctype}\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode() + body
        else:
            payload = r["payload"]
        date = r.get("date", "2024-01-01T00:00:00Z")
        head = (
            "WARC/1.0\r\n"
            f"WARC-Type: {r['warc_type']}\r\n"
            f"WARC-Target-URI: {r.get('target_uri', '')}\r\n"
            + (f"WARC-Date: {date}\r\n" if date else "")
            + f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode()
        out += head + payload + _CRLF + _CRLF
    return bytes(out)


def iter_warc_stream(f) -> Iterator[dict]:
    """The WARC/1.0 or 1.1 parser: record dicts (warc_type,
    target_uri, date, payload bytes) off a binary stream. Anything
    that does not follow the framing raises ValueError (bad version
    line, a header line not ended by CRLF, missing Content-Length,
    truncated payload): framing errors must surface, not yield
    silently truncated or wrong values. Never holds more than ONE
    record in memory: the property that lets the file-based
    ``format("warc")`` reader (warc_source.py) ingest a 1 GB crawl
    shard without materializing it as a single row; ``explode_warc``
    wraps its in-row bytes in io.BytesIO. Works on a plain file
    object or a gzip.GzipFile over per-record gzip members (gzip
    reads concatenated members transparently — the Common Crawl
    .warc.gz layout)."""
    while True:
        line = f.readline()
        if not line:
            return
        if line == _CRLF:
            continue  # inter-record blank lines
        if not line.startswith(b"WARC/1.") or not line.endswith(_CRLF):
            raise ValueError("bad WARC version line")
        headers: dict[str, str] = {}
        while True:
            ln = f.readline()
            if not ln.endswith(_CRLF):
                raise ValueError("unterminated WARC header block")
            ln = ln[:-2]
            if not ln:
                break
            k, _, v = ln.partition(b":")
            headers[k.strip().lower().decode()] = v.strip().decode()
        try:
            length = int(headers["content-length"])
        except (KeyError, ValueError) as e:
            raise ValueError("missing/invalid Content-Length") from e
        payload = f.read(length)
        if len(payload) < length:
            raise ValueError("truncated WARC payload")
        yield {
            "warc_type": headers.get("warc-type", ""),
            "target_uri": headers.get("warc-target-uri", ""),
            "date": headers.get("warc-date", ""),
            "payload": payload,
        }


def build_warc_gz(records: list[dict]) -> bytes:
    """Per-record-gzip-member serialization (.warc.gz) — the Common
    Crawl shard layout: each record (with its trailing CRLF CRLF) is
    an independent gzip member, members concatenated, so a reader can
    random-access records after a member scan and gzip.GzipFile reads
    the whole file transparently. mtime pinned to 0 for byte-exact
    determinism (fixtures are compared by content)."""
    import gzip

    out = bytearray()
    for r in records:
        out += gzip.compress(build_warc([r]), mtime=0)
    return bytes(out)


def parse_http_response(payload: bytes) -> tuple[int, str, bytes]:
    """(status, content-type, body) from an HTTP/1.x response payload.
    ValueError on a non-HTTP payload (caller keeps the raw bytes)."""
    sep = payload.find(_CRLF + _CRLF)
    if sep < 0 or not payload.startswith(b"HTTP/1."):
        raise ValueError("not an HTTP response payload")
    head_lines = payload[:sep].split(_CRLF)
    parts = head_lines[0].split(b" ", 2)
    if len(parts) < 2:
        raise ValueError("malformed HTTP status line")
    try:
        status = int(parts[1])
    except ValueError as e:
        raise ValueError("non-numeric HTTP status") from e
    ctype = ""
    for ln in head_lines[1:]:
        k, _, v = ln.partition(b":")
        if k.strip().lower() == b"content-type":
            ctype = v.strip().decode()
    return status, ctype, payload[sep + 4:]


def unwrap_http(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """(status, content-type, body) of an HTTP response payload; any
    other payload is (None, None, the raw payload)."""
    try:
        return parse_http_response(payload)
    except ValueError:
        return None, None, payload


WARC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("record_idx", LongType()),
        StructField("warc_type", StringType()),
        StructField("target_uri", StringType()),
        StructField("http_status", LongType()),
        StructField("content_type", StringType()),
        StructField("body", StringType()),
    ]
)


def explode_warc(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """1→N record explode over a WARC-bytes column: one output row per
    record, HTTP layer unwrapped for response records (status/
    content-type/utf-8 body; non-HTTP payloads keep NULL status and
    carry their bytes as the body text). Arrow-batched mapInPandas —
    the crawl-ingest twin of multimodal.sample_frames."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k: [] for k in WARC_SCHEMA.fieldNames()}
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                records = iter_warc_stream(io.BytesIO(bytes(payload)))
                for i, rec in enumerate(records):
                    status, ctype, body = unwrap_http(rec["payload"])
                    out["doc_id"].append(doc_id)
                    out["record_idx"].append(i)
                    out["warc_type"].append(rec["warc_type"])
                    out["target_uri"].append(rec["target_uri"])
                    out["http_status"].append(status)
                    out["content_type"].append(ctype)
                    out["body"].append(body.decode("utf-8", "replace"))
            yield pd.DataFrame(out)

    return df.mapInPandas(gen, WARC_SCHEMA)
