"""BSON codec + mongodump Python DataSource (sources/bson_codec.py,
sources/mongodump_source.py): round-trip, file-per-partition scans,
schema inference, extended-JSON-aligned conventions, malformed input.
"""

from __future__ import annotations

from datetime import datetime

import pytest

from mongodb_etl_migration_spark.sources.bson_codec import (
    ObjectIdHex,
    decode_document,
    encode_document,
    iter_documents,
)
from mongodb_etl_migration_spark.sources.mongodump_source import (
    register_mongodump,
)

DOCS = [
    {
        "_id": ObjectIdHex("64b7f3a2e1d4c5b6a7980102"),
        "name": "room one",
        "members": 3,
        "score": 1.5,
        "active": True,
        "created": datetime(2024, 1, 2, 3, 4, 5),
        "tags": ["a", "b"],
        "meta": {"depth": 2, "parent": None},
    },
    {
        "_id": ObjectIdHex("64b7f3a2e1d4c5b6a7980103"),
        "name": "room two",
        "members": 2**40,  # forces int64
        "score": -0.25,
        "active": False,
        "created": datetime(2024, 2, 3, 4, 5, 6),
        "tags": [],
        "meta": {"depth": 0, "parent": "64b7f3a2e1d4c5b6a7980102"},
    },
]


def test_bson_roundtrip():
    buf = b"".join(encode_document(d) for d in DOCS)
    got = list(iter_documents(buf))
    # ObjectIdHex decodes to plain hex str; everything else roundtrips
    assert got[0]["_id"] == "64b7f3a2e1d4c5b6a7980102"
    assert got[0]["name"] == "room one"
    assert got[0]["meta"] == {"depth": 2, "parent": None}
    assert got[1]["members"] == 2**40
    assert got[1]["tags"] == []
    assert got[0]["created"] == datetime(2024, 1, 2, 3, 4, 5)


def test_bson_malformed_raises():
    buf = encode_document(DOCS[0])
    with pytest.raises(ValueError):
        decode_document(buf[:10])
    bad = bytearray(buf)
    bad[-1] = 1  # missing terminator
    with pytest.raises(ValueError):
        decode_document(bytes(bad))


@pytest.fixture()
def dump_dir(tmp_path):
    for i, chunk in enumerate([DOCS[:1], DOCS[1:]]):
        (tmp_path / f"rooms.{i}.bson").write_bytes(
            b"".join(encode_document(d) for d in chunk)
        )
    return str(tmp_path)


def test_mongodump_scan_and_inference(spark, dump_dir):
    register_mongodump(spark)
    df = spark.read.format("mongodump").option("path", dump_dir).load()
    assert [f.name for f in df.schema.fields] == [
        "_id", "name", "members", "score", "active", "created", "tags", "meta",
    ]
    assert dict(df.dtypes)["members"] == "bigint"
    assert dict(df.dtypes)["created"] == "timestamp"
    assert dict(df.dtypes)["meta"].startswith("struct<")
    rows = {r["_id"]: r for r in df.collect()}
    assert len(rows) == 2
    r = rows["64b7f3a2e1d4c5b6a7980103"]
    assert r["members"] == 2**40 and r["meta"]["depth"] == 0
    assert r["meta"]["parent"] == "64b7f3a2e1d4c5b6a7980102"
    # one partition per file — the parallelism unit
    assert df.rdd.getNumPartitions() == 2


def test_mongodump_explicit_schema_projects_subset(spark, dump_dir):
    register_mongodump(spark)
    df = (
        spark.read.format("mongodump")
        .schema("_id string, members long, missing string")
        .option("path", dump_dir)
        .load()
    )
    rows = {r["_id"]: r for r in df.collect()}
    assert rows["64b7f3a2e1d4c5b6a7980102"]["members"] == 3
    assert rows["64b7f3a2e1d4c5b6a7980102"]["missing"] is None


def test_mongodump_permissive_keeps_valid_prefix(spark, tmp_path):
    buf = b"".join(encode_document(d) for d in DOCS)
    truncated = buf[: len(encode_document(DOCS[0])) + 10]  # corrupt tail
    (tmp_path / "rooms.bson").write_bytes(truncated)
    register_mongodump(spark)
    # FAILFAST (default): the scan fails loudly
    df = (
        spark.read.format("mongodump")
        .schema("_id string, name string")
        .option("path", str(tmp_path))
        .load()
    )
    with pytest.raises(Exception):
        df.collect()
    # PERMISSIVE without _corrupt_record: valid prefix only
    ok = (
        spark.read.format("mongodump")
        .schema("_id string, name string")
        .option("path", str(tmp_path))
        .option("mode", "PERMISSIVE")
        .load()
        .collect()
    )
    assert [r["name"] for r in ok] == ["room one"]
    # PERMISSIVE with _corrupt_record: dead-letter row appended
    dl = (
        spark.read.format("mongodump")
        .schema("_id string, name string, _corrupt_record string")
        .option("path", str(tmp_path))
        .option("mode", "PERMISSIVE")
        .load()
        .collect()
    )
    assert len(dl) == 2
    bad = [r for r in dl if r["_corrupt_record"] is not None]
    assert len(bad) == 1 and "undecodable tail" in bad[0]["_corrupt_record"]


def test_mongodump_streaming_tails_new_files(spark, tmp_path):
    """Each dropped backup file is ingested exactly once; offsets are
    file counts over the sorted listing."""
    register_mongodump(spark)
    src = tmp_path / "drops"
    src.mkdir()
    out = tmp_path / "out"
    chk = tmp_path / "chk"

    def run_batch():
        q = (
            spark.readStream.format("mongodump")
            .schema("_id string, name string, members long")
            .option("path", str(src))
            .load()
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(chk))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    (src / "a.bson").write_bytes(encode_document(DOCS[0]))
    run_batch()
    (src / "b.bson").write_bytes(encode_document(DOCS[1]))
    run_batch()
    got = {r["name"]: r["members"] for r in spark.read.parquet(str(out)).collect()}
    assert got == {"room one": 3, "room two": 2**40}


def test_mongodump_filter_pushdown_enforced(spark, dump_dir):
    """Accepted filters are enforced in the reader (Spark does not
    re-apply them), with SQL three-valued semantics; unsupported
    shapes are handed back."""
    from pyspark.sql import functions as F

    register_mongodump(spark)
    df = spark.read.format("mongodump").option("path", dump_dir).load()
    assert [r["name"] for r in df.filter(F.col("members") == 3).collect()] == [
        "room one"
    ]
    assert df.filter(F.col("members") > 3).count() == 1
    assert df.filter(F.col("name").startswith("room")).count() == 2
    assert df.filter(~(F.col("name") == "room one")).count() == 1
    assert df.filter(F.col("name").isin("room two", "x")).count() == 1
    # NULL comparison drops the row (three-valued), NOT(NULL) too
    assert df.filter(F.col("meta").isNotNull()).count() == 2
    plan = df.filter(F.col("members") == 3)._jdf.queryExecution() \
        .optimizedPlan().toString()
    # the equality was accepted by pushFilters -> no Spark-side Filter
    assert "Filter" not in plan


@pytest.mark.xfail(
    strict=True,
    reason="known defect: with spark.sql.python.filterPushdown.enabled a "
    "query that pushes no filter reuses the reader of the last query on "
    "the same loaded frame, so that query's pushed filters leak into it",
)
def test_mongodump_pushed_filters_do_not_leak_into_later_queries(spark, dump_dir):
    """A filtered count must not narrow a later unfiltered count of the
    same loaded frame. In the migration this is why the files branch
    of ``docs`` inherits the folders query's ``type = 'FOLDER'``."""
    from pyspark.sql import functions as F

    register_mongodump(spark)
    df = spark.read.format("mongodump").option("path", dump_dir).load()
    assert df.filter(F.col("members") == 3).count() == 1
    assert df.count() == 2


def test_mongodump_field_skip_pruning(spark, tmp_path):
    """A narrow projection decodes only its fields — undecodable bytes
    inside SKIPPED values must not break the scan (proof they are
    length-skipped, not parsed)."""
    import struct as st

    # craft a doc with a deliberately corrupt NESTED value under 'junk'
    good = encode_document({"a": 1, "junk": {"x": "y"}, "b": "keep"})
    # corrupt the junk payload bytes in place (inner string content),
    # keeping all length prefixes intact
    corrupted = good.replace(b"\x02x\x00\x02\x00\x00\x00y\x00", b"\x02x\x00\xff\xff\xff\xffy\x00")
    assert corrupted != good
    (tmp_path / "c.bson").write_bytes(corrupted)
    register_mongodump(spark)
    rows = (
        spark.read.format("mongodump")
        .schema("a long, b string")
        .option("path", str(tmp_path))
        .load()
        .collect()
    )
    assert [(r["a"], r["b"]) for r in rows] == [(1, "keep")]


def test_mongodump_write_roundtrip(spark, tmp_path):
    """df.write.format('mongodump') exports a readable backup; temp
    files never survive, append vs overwrite behave like file sinks."""
    register_mongodump(spark)
    out = str(tmp_path / "export")
    df = spark.createDataFrame(
        [(1, "a", datetime(2024, 1, 1, 12, 0)), (2, None, None)],
        "id long, s string, ts timestamp",
    )
    df.repartition(2).write.format("mongodump").mode("append").save(out)
    back = (
        spark.read.format("mongodump")
        .schema(df.schema)
        .option("path", out)
        .load()
    )
    assert {tuple(r) for r in back.collect()} == {tuple(r) for r in df.collect()}
    import os
    names = os.listdir(out)
    assert all(n.startswith("part-") and n.endswith(".bson") for n in names)
    # overwrite replaces prior parts
    df.limit(1).write.format("mongodump").mode("overwrite").save(out)
    assert (
        spark.read.format("mongodump")
        .schema(df.schema).option("path", out).load().count()
    ) == 1


def test_bson_roundtrip_property():
    """decode(encode(doc)) == doc over randomized nested documents."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    scalars = st.one_of(
        st.none(),
        st.booleans(),
        st.integers(min_value=-(2**62), max_value=2**62),
        st.floats(allow_nan=False, allow_infinity=False),
        st.text(max_size=20),
        st.binary(max_size=20),
        st.datetimes(
            min_value=datetime(1970, 1, 1), max_value=datetime(2100, 1, 1)
        ).map(lambda d: d.replace(microsecond=(d.microsecond // 1000) * 1000)),
    )
    values = st.recursive(
        scalars,
        lambda children: st.one_of(
            st.lists(children, max_size=4),
            st.dictionaries(
                st.text(
                    alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=8
                ),
                children,
                max_size=4,
            ),
        ),
        max_leaves=12,
    )
    docs = st.dictionaries(
        st.text(alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=8),
        values,
        max_size=6,
    )

    @settings(max_examples=200, deadline=None)
    @given(docs)
    def check(doc):
        buf = encode_document(doc)
        got, consumed = decode_document(buf)
        assert consumed == len(buf)
        assert got == doc

    check()


def test_mongodump_streaming_handles_nonmonotonic_names(spark, tmp_path):
    """A new file that sorts BEFORE already-emitted names must still be
    ingested exactly once (offsets are seen-sets, not counts)."""
    register_mongodump(spark)
    src = tmp_path / "drops"
    src.mkdir()
    out = tmp_path / "out"
    chk = tmp_path / "chk"

    def run_batch():
        q = (
            spark.readStream.format("mongodump")
            .schema("_id string, name string")
            .option("path", str(src))
            .load()
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(chk))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    (src / "dump-2.bson").write_bytes(encode_document(DOCS[0]))
    run_batch()
    # sorts lexicographically BEFORE dump-2.bson
    (src / "dump-10.bson").write_bytes(encode_document(DOCS[1]))
    run_batch()
    names = sorted(r["name"] for r in spark.read.parquet(str(out)).collect())
    assert names == ["room one", "room two"]  # each exactly once
