"""Mongo extended-JSON ingest (readers.normalize_extended_json):
wrapper structs → typed columns, recursively, schema-driven (no UDF).
Mirrors the reference's per-document serialize_document walk
(etl/extractors/mongo_extractor.py:211-237) at plan time."""

from __future__ import annotations

import json
from datetime import datetime, timezone

import pytest
from pyspark.sql import functions as F

from mongodb_etl_migration_spark.sources.readers import normalize_extended_json


def test_extended_json_normalization(spark, tmp_path):
    docs = [
        {
            "_id": {"$oid": "64b0c7e2a1b2c3d4e5f60718"},
            "createdAt": {"$date": "2021-03-04T05:06:07.008Z"},
            "updatedAt": {"$date": {"$numberLong": "1614834367008"}},
            "views": {"$numberLong": "9007199254740993"},
            "rank": {"$numberInt": "7"},
            "score": {"$numberDouble": "0.25"},
            "nested": {
                "owner": {"$oid": "64b0c7e2a1b2c3d4e5f60719"},
                "plain": "keep-me",
            },
            "tags": ["a", "b"],
            "refs": [
                {"$oid": "64b0c7e2a1b2c3d4e5f6071a"},
                {"$oid": "64b0c7e2a1b2c3d4e5f6071b"},
            ],
        },
        {
            "_id": {"$oid": "64b0c7e2a1b2c3d4e5f6071c"},
            "createdAt": {"$date": "2022-01-01T00:00:00.000Z"},
            "updatedAt": {"$date": {"$numberLong": "1640995200000"}},
            "views": {"$numberLong": "1"},
            "rank": {"$numberInt": "-3"},
            "score": {"$numberDouble": "1.5"},
            "nested": {"owner": {"$oid": "64b0c7e2a1b2c3d4e5f6071d"}, "plain": "x"},
            "tags": [],
            "refs": [],
        },
    ]
    p = tmp_path / "docs.jsonl"
    p.write_text("\n".join(json.dumps(d) for d in docs))

    raw = spark.read.json(str(p))
    out = normalize_extended_json(raw)

    t = dict(out.dtypes)
    assert t["_id"] == "string"
    assert t["createdAt"] == "timestamp"
    assert t["updatedAt"] == "timestamp"
    assert t["views"] == "bigint"
    assert t["rank"] == "int"
    assert t["score"] == "double"
    assert t["refs"] == "array<string>"
    assert "owner:string" in t["nested"].replace(" ", "")

    r = out.orderBy("_id").collect()[0]
    assert r["_id"] == "64b0c7e2a1b2c3d4e5f60718"
    assert r["views"] == 9007199254740993
    assert r["rank"] == 7 and r["score"] == 0.25
    assert r["nested"]["owner"] == "64b0c7e2a1b2c3d4e5f60719"
    assert r["nested"]["plain"] == "keep-me"
    assert r["refs"] == [
        "64b0c7e2a1b2c3d4e5f6071a",
        "64b0c7e2a1b2c3d4e5f6071b",
    ]
    # $date (ISO) and $date.$numberLong (epoch ms) agree on the instant
    assert r["createdAt"] == r["updatedAt"]
    assert r["createdAt"] == datetime(2021, 3, 4, 5, 6, 7, 8000)


def test_null_nested_struct_stays_null(spark):
    """A NULL embedded document must normalize to NULL, not to a
    non-null all-null struct (which flips isNull() downstream)."""
    from pyspark.sql import types as T

    from mongodb_etl_migration_spark.sources.readers import (
        normalize_extended_json,
    )

    schema = T.StructType([
        T.StructField("_id", T.StringType()),
        T.StructField("address", T.StructType([
            T.StructField("city", T.StringType()),
            T.StructField("oid_field", T.StructType([
                T.StructField("$oid", T.StringType()),
            ])),
        ])),
    ])
    df = spark.createDataFrame(
        [("a", ("caracas", ("abc123",))), ("b", None)], schema
    )
    out = normalize_extended_json(df)
    rows = {r._id: r for r in out.collect()}
    assert rows["a"].address.city == "caracas"
    assert rows["a"].address.oid_field == "abc123"
    assert rows["b"].address is None  # NOT Row(city=None, ...)
    assert out.filter(F.col("address").isNull()).count() == 1


def test_corrupt_record_column_detects_malformed_lines(spark, tmp_path):
    from pyspark.sql import types as T

    from mongodb_etl_migration_spark.sources.jsonl import read_jsonl

    p = tmp_path / "docs.json"
    p.write_text('{"a": 1}\n{"a": 2, "broken\n{"a": 3}\n')
    schema = T.StructType([T.StructField("a", T.LongType())])
    # Spark disallows queries whose pruned schema is ONLY the corrupt
    # column; cache first (the documented pattern) so the full rows
    # materialize once
    df = read_jsonl(spark, str(p), schema).cache()
    try:
        assert df.filter(F.col("_corrupt_record").isNotNull()).count() == 1
        assert df.filter(F.col("_corrupt_record").isNull()).count() == 2
    finally:
        df.unpersist()


def test_sequential_ids_empty_input(spark):
    from mongodb_etl_migration_spark.functions.keys import (
        assign_sequential_ids,
    )

    empty = spark.createDataFrame([], "k string, v long")
    out = assign_sequential_ids(empty, ["k"], "id")
    assert out.count() == 0
    assert "id" in out.columns


@pytest.mark.parametrize("aqe", ["true", "false"])
@pytest.mark.parametrize("num_partitions", [1, 7, 64])
def test_sequential_ids_lazy_numbering_known_answer(spark, aqe, num_partitions):
    """Lazy in-plan offsets: ids are exactly start..start+n-1 and
    monotone in key order on skewed, tie-heavy keys, and two reads of
    one output frame (a self-join) agree on every row's id — the
    range bounds are sampled once, inside the one checkpointed RDD."""
    from mongodb_etl_migration_spark.functions.keys import (
        assign_sequential_ids,
    )

    # 20k rows, 97 distinct keys; half the rows share key 0
    df = spark.range(20000).select(
        F.when(F.col("id") % 2 == 0, F.lit(0))
        .otherwise(F.col("id") * 7919 % 97)
        .alias("k"),
        F.col("id").alias("row"),
    )
    old = spark.conf.get("spark.sql.adaptive.enabled")
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", aqe)
    spark.conf.set("spark.sql.shuffle.partitions", str(num_partitions))
    try:
        out = assign_sequential_ids(df, ["k"], "id", start=5)
        rows = sorted(out.select("k", "id").collect(), key=lambda r: r.id)
        assert [r.id for r in rows] == list(range(5, 5 + 20000))
        assert all(a.k <= b.k for a, b in zip(rows, rows[1:]))
        disagree = (
            out.select("row", F.col("id").alias("id1"))
            .join(out.select("row", F.col("id").alias("id2")), "row")
            .filter(F.col("id1") != F.col("id2"))
            .count()
        )
        assert disagree == 0
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)


def test_sequential_ids_evaluate_input_once(spark):
    """The range partitioner's sample job and the shuffle map both read
    every input row; the input pin makes them share one evaluation, so
    a counting UDF over the input sees each row once, not twice."""
    from mongodb_etl_migration_spark.functions.keys import (
        assign_sequential_ids,
    )

    n = 5000
    seen = spark.sparkContext.accumulator(0)

    def count_row(k):
        seen.add(1)
        return k

    counted = F.udf(count_row, "long")
    df = spark.range(n).select(
        counted(F.col("id") * 7919 % 1009).alias("k"), F.col("id").alias("row")
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        out = assign_sequential_ids(df, ["k"], "id")
        out.write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert seen.value == n


def test_folder_tree_with_explicit_root_row(spark):
    """A '/' row (depth 0) must be emitted with its id, and its
    children must parent to IT, not to the default root 0."""
    from mongodb_etl_migration_spark.operators.hierarchy import (
        resolve_folder_tree,
    )

    folders = spark.createDataFrame(
        [("/",), ("/a",), ("/a/b",)], "path string"
    )
    rows = {r.path: r for r in resolve_folder_tree(folders).collect()}
    assert set(rows) == {"/", "/a", "/a/b"}
    assert rows["/"].parent_id == 0
    assert rows["/a"].parent_id == rows["/"].folder_id
    assert rows["/a/b"].parent_id == rows["/a"].folder_id
    # ids dense and collision-free
    ids = sorted(r.folder_id for r in rows.values())
    assert ids == [1, 2, 3]


def test_folder_tree_known_answer_over_several_partitions(spark):
    """Known answer on an input spread over several partitions, with
    duplicate paths, an orphan whose parent path is missing and a '/'
    row: ids are dense by (depth, path), the orphan parents to 0."""
    from mongodb_etl_migration_spark.operators.hierarchy import (
        resolve_folder_tree,
    )

    paths = [
        "/a/x/deep", "/b", "/a/x", "/", "/missing/orphan", "/a/y",
        "/a", "/b/z", "/a/x", "/a", "/b/z",
    ]
    folders = spark.createDataFrame([(p,) for p in paths], "path string")
    folders = folders.repartition(4)
    assert folders.rdd.getNumPartitions() == 4
    rows = resolve_folder_tree(folders).collect()
    assert len(rows) == 8  # one row per distinct path
    got = {(r.path, r.depth, r.folder_id, r.parent_id) for r in rows}
    assert got == {
        ("/", 0, 1, 0),
        ("/a", 1, 2, 1),
        ("/b", 1, 3, 1),
        ("/a/x", 2, 4, 2),
        ("/a/y", 2, 5, 2),
        ("/b/z", 2, 6, 3),
        ("/missing/orphan", 2, 7, 0),
        ("/a/x/deep", 3, 8, 4),
    }
