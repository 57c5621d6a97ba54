"""The shared file-source skeleton (sources/files.py), driven directly
on the driver with no Spark job: file resolution and the
directory-tail offsets of both file formats (mongodump, warc)."""

from __future__ import annotations

import pytest
from pyspark.sql.types import StringType, StructField, StructType

from mongodb_etl_migration_spark.sources.bson_codec import encode_document
from mongodb_etl_migration_spark.sources.files import (
    DirectoryTailReader,
    resolve_files,
)
from mongodb_etl_migration_spark.sources.mongodump_source import MongodumpReader
from mongodb_etl_migration_spark.sources.warc import build_warc
from mongodb_etl_migration_spark.sources.warc_source import (
    WARC_SOURCE_FIELDS,
    WarcReader,
)

# format -> (batch reader, file suffix, tags -> file bytes, schema, row -> tag)
FORMATS = {
    "mongodump": (
        MongodumpReader,
        ".bson",
        lambda tags: b"".join(encode_document({"_id": t}) for t in tags),
        StructType([StructField("_id", StringType())]),
        lambda row: row[0],
    ),
    "warc": (
        WarcReader,
        ".warc",
        lambda tags: build_warc(
            [{"warc_type": "resource", "target_uri": t, "payload": b"x"} for t in tags]
        ),
        StructType(WARC_SOURCE_FIELDS),
        lambda row: row[3],
    ),
}


@pytest.mark.parametrize("fmt", sorted(FORMATS))
def test_directory_tail_offsets(tmp_path, fmt):
    reader, suffix, encode, schema, tag = FORMATS[fmt]
    tail = DirectoryTailReader(reader, schema, {"path": str(tmp_path)})

    def drop(name, tags):
        (tmp_path / f"{name}{suffix}").write_bytes(encode(tags))

    def tags(rows):
        return sorted(tag(r) for r in rows)

    o0 = tail.initialOffset()
    assert o0 == {"seen": []}
    rows, end = tail.read(o0)  # empty directory: an empty batch
    assert next(rows, None) is None and end == o0

    drop("drop-2", ["a", "b"])
    rows, o1 = tail.read(o0)
    assert not isinstance(rows, list)  # an iterator over materialized rows
    assert tags(rows) == ["a", "b"] and o1 == {"seen": [f"drop-2{suffix}"]}
    rows, again = tail.read(o1)
    assert tags(rows) == [] and again == o1

    # a late file that sorts BEFORE the emitted one is still read once
    drop("drop-10", ["c"])
    rows, o2 = tail.read(o1)
    assert tags(rows) == ["c"]
    assert o2 == {"seen": [f"drop-10{suffix}", f"drop-2{suffix}"]}

    # replay is end.seen - start.seen
    assert tags(tail.readBetweenOffsets(o0, o1)) == ["a", "b"]
    assert tags(tail.readBetweenOffsets(o1, o2)) == ["c"]
    assert tags(tail.readBetweenOffsets(o0, o2)) == ["a", "b", "c"]
    assert tags(tail.readBetweenOffsets(o2, o2)) == []

    # the count-based offset means the first n sorted basenames
    rows, end = tail.read({"files": 1})
    assert tags(rows) == ["a", "b"] and end == o2
    assert tags(tail.readBetweenOffsets({"files": 1}, o2)) == ["a", "b"]
    assert tags(tail.readBetweenOffsets({"files": 0}, {"files": 2})) == [
        "a", "b", "c",
    ]


def test_resolve_files_directory_glob_and_missing(tmp_path):
    for name in ["b.warc.gz", "a.warc", "c.bson", "d.txt"]:
        (tmp_path / name).write_bytes(b"")
    d = str(tmp_path)
    assert resolve_files(d, ("*.warc", "*.warc.gz")) == [
        f"{d}/a.warc", f"{d}/b.warc.gz",
    ]
    assert resolve_files(d, ("*.bson",)) == [f"{d}/c.bson"]
    # a non-directory path is itself the glob; patterns do not apply
    assert resolve_files(f"{d}/*.txt", ("*.bson",)) == [f"{d}/d.txt"]
    with pytest.raises(FileNotFoundError, match=r"\*\.bson"):
        resolve_files(str(tmp_path / "missing"), ("*.bson",))
