"""JSONL source: json.dumps→read roundtrip, corrupt capture, schema
NULLs, gzip transparency."""

from __future__ import annotations

import gzip
import json
import os

import pytest
from pyspark.sql.types import LongType, StringType, StructField, StructType

from mongodb_etl_migration_spark.sources.jsonl import read_jsonl

SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("text", StringType()),
    ]
)


def _dump(path, rows, opener=open):
    """Write ``rows`` (dicts) to ``path`` as JSON Lines."""
    with opener(path, "wt", encoding="utf-8") as f:
        f.writelines(json.dumps(r, ensure_ascii=False) + "\n" for r in rows)


def test_jsonl_roundtrip_exact_including_hard_strings(spark, tmp_path):
    """Escape-relevant content must round-trip byte-exact through
    json.dumps -> schema'd reader: embedded newlines (serialized as
    \\n, one object per line holds), quotes, backslashes, unicode,
    empty string, NULL text."""
    rows = [
        (1, "plain words"),
        (2, 'quotes " and \\ backslash'),
        (3, "two\nlines\nhere"),
        (4, "unicode: héllo wörld — 日本語 🚀"),
        (5, ""),
        (6, None),
    ]
    path = tmp_path / "rt"
    path.mkdir()
    _dump(path / "rt.jsonl", [{"doc_id": d, "text": t} for d, t in rows])
    back = read_jsonl(spark, str(path), SCHEMA).collect()
    assert all(r._corrupt_record is None for r in back)
    got = {(r.doc_id, r.text) for r in back}
    assert got == set(rows)


def test_jsonl_null_field_bytes(spark, tmp_path):
    """NULL on the wire: an explicit '"text": null' member and an
    omitted field both read back as the same NULL row through the
    explicit schema."""
    kept = tmp_path / "kept"
    dropped = tmp_path / "dropped"
    kept.mkdir()
    dropped.mkdir()
    _dump(kept / "a.jsonl", [{"doc_id": 6, "text": None}])
    _dump(dropped / "a.jsonl", [{"doc_id": 6}])
    for p in (kept, dropped):
        (r,) = read_jsonl(spark, str(p), SCHEMA).collect()
        assert (r.doc_id, r.text) == (6, None)


def test_jsonl_gzip_roundtrip_and_mixed_dirs(spark, tmp_path):
    """gzip shards read back transparently, and a directory mixing
    plain and gzipped shards reads as one."""
    rows = [{"doc_id": i, "text": f"t{i}"} for i in range(20)]
    path = tmp_path / "gz"
    path.mkdir()
    _dump(path / "a.jsonl.gz", rows[:10], gzip.open)
    _dump(path / "b.jsonl.gz", rows[10:], gzip.open)
    assert any(f.endswith(".gz") for f in os.listdir(path))
    back = read_jsonl(spark, str(path), SCHEMA)
    assert back.count() == 20
    # mixed: one plain + one gz shard in a fresh dir
    mixed = tmp_path / "mixed"
    mixed.mkdir()
    (mixed / "a.jsonl").write_text('{"doc_id":100,"text":"plain"}\n')
    with gzip.open(mixed / "b.jsonl.gz", "wt") as f:
        f.write('{"doc_id":101,"text":"zipped"}\n')
    got = {
        (r.doc_id, r.text)
        for r in read_jsonl(spark, str(mixed), SCHEMA)
        .select("doc_id", "text")
        .collect()
    }
    assert got == {(100, "plain"), (101, "zipped")}


def test_jsonl_corrupt_vs_missing_field(spark, tmp_path):
    """A non-JSON line is CAPTURED (all columns NULL + raw line);
    a valid line missing a schema field is NOT corrupt (field NULL);
    an extra unknown field is ignored."""
    p = tmp_path / "c"
    p.mkdir()
    (p / "x.jsonl").write_text(
        '{"doc_id":1,"text":"ok"}\n'
        "not json at all\n"
        '{"doc_id":2}\n'
        '{"doc_id":3,"text":"y","extra":true}\n'
    )
    back = read_jsonl(spark, str(p), SCHEMA).collect()
    by_corrupt = {
        (r.doc_id, r.text, r._corrupt_record is not None) for r in back
    }
    assert by_corrupt == {
        (1, "ok", False),
        (None, None, True),
        (2, None, False),
        (3, "y", False),
    }


def test_jsonl_schema_guard():
    with pytest.raises(ValueError, match="_corrupt_record"):
        bad = StructType(
            list(SCHEMA.fields)
            + [StructField("_corrupt_record", StringType())]
        )
        read_jsonl(None, "/tmp/x", bad)
