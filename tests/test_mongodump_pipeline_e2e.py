"""E2E parity through the mongodump source: the full 15-entity
migration DAG produces IDENTICAL output whether its sources arrive as
in-memory fixtures or as BSON backup files scanned by
``format("mongodump")`` — the reference's actual input path
(backups/appcampana_db/*.bson), end to end. A metamorphic slice also
splits every collection into 2 and 4 part files with the documents
shuffled: how a dump is laid out on disk must not change the
migration."""

from __future__ import annotations

import random
from datetime import datetime

import pytest
from pyspark.sql import DataFrame

from mongodb_etl_migration_spark.fixtures import all_sources
from mongodb_etl_migration_spark.pipeline import run_reference_pipeline
from mongodb_etl_migration_spark.sources.bson_codec import encode_document
from mongodb_etl_migration_spark.sources.mongodump_source import (
    register_mongodump,
)


def _to_bson_file(rows, path) -> None:
    with open(path, "wb") as f:
        for row in rows:
            f.write(encode_document(row.asDict(recursive=True)))


def _load(spark, df: DataFrame, path) -> DataFrame:
    return (
        spark.read.format("mongodump")
        .schema(df.schema)
        .option("path", str(path))
        .load()
    )


def _roundtrip(spark, df: DataFrame, path) -> DataFrame:
    _to_bson_file(df.collect(), path)
    return _load(spark, df, path)


def _roundtrip_parts(spark, df: DataFrame, directory, parts: int, seed: int) -> DataFrame:
    """``df`` as a directory of ``parts`` .bson files, its documents
    in a seeded shuffled order dealt round-robin across the files."""
    rows = df.collect()
    random.Random(seed).shuffle(rows)
    directory.mkdir()
    for i in range(parts):
        _to_bson_file(rows[i::parts], directory / f"{i}.bson")
    return _load(spark, df, directory)


def _rows(df: DataFrame) -> set:
    return {tuple(map(repr, r)) for r in df.collect()}


SPLITS = (2, 4)  # part files per collection in the metamorphic slice
OUTPUTS = (
    "channel", "docs", "docs_roles", "live", "messages_by_room",
    "municipality", "organizations", "p2p_room_by_users", "parroquia",
    "participants_by_room", "profession", "province", "role",
    "room_by_message", "room_details", "room_membership_lookup",
    "room_membership_lookup_updated", "rooms_by_mongo", "rooms_by_user",
    "user", "user_professions", "users_cassandra",
)
# Through the mongodump source the files branch of docs inherits the
# folders query's pushed `type = 'FOLDER'` (the filter-leak defect
# pinned by test_mongodump_source's xfail), so docs keeps only its
# folders and docs_roles, which joins files, comes out empty.
PUSHED_FILTER_LEAK = pytest.mark.xfail(
    strict=True,
    reason="known defect: pushed filters of the folders query leak into "
    "the files query of the same loaded docs frame",
)


@pytest.fixture(scope="module")
def both_runs(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("backups")
    direct = all_sources(spark)
    register_mongodump(spark)
    via_bson = {
        name: _roundtrip(spark, df, tmp / f"{name}.bson")
        for name, df in direct.items()
    }
    via_parts = {
        parts: {
            name: _roundtrip_parts(spark, df, tmp / f"{name}-{parts}", parts, seed=parts)
            for name, df in direct.items()
        }
        for parts in SPLITS
    }
    # read the sources back before the pipeline plans filtered queries
    # on them: afterwards an unfiltered read would hit the leak too
    sources_differ = [
        (name, layout)
        for layout, frames in [("file", via_bson), *via_parts.items()]
        for name in direct
        if _rows(direct[name]) != _rows(frames[name])
    ]
    run_ts = datetime(2024, 1, 1)
    return (
        sources_differ,
        run_reference_pipeline(direct, run_ts),
        run_reference_pipeline(via_bson, run_ts),
        {
            parts: run_reference_pipeline(frames, run_ts)
            for parts, frames in via_parts.items()
        },
    )


def test_sources_roundtrip_through_backups(both_runs):
    sources_differ, _, _, _ = both_runs
    assert sources_differ == []


def test_pipeline_returns_every_output(both_runs):
    _, out_direct, out_bson, out_parts = both_runs
    assert sorted(out_direct) == sorted(out_bson) == list(OUTPUTS)
    assert all(sorted(out) == list(OUTPUTS) for out in out_parts.values())


@pytest.mark.parametrize(
    "table",
    [
        pytest.param(t, marks=PUSHED_FILTER_LEAK)
        if t in ("docs", "docs_roles")
        else t
        for t in OUTPUTS
    ],
)
def test_pipeline_identical_via_mongodump_backups(both_runs, table):
    _, out_direct, out_bson, _ = both_runs
    assert _rows(out_direct[table]) == _rows(out_bson[table])


@pytest.mark.parametrize("parts", SPLITS)
def test_pipeline_invariant_to_part_files_and_document_order(both_runs, parts):
    """All 22 outputs of a dump split into part files with shuffled
    documents equal the single-file run's, docs and docs_roles
    included: both layouts go through the same loaded-frame leak."""
    _, _, out_bson, out_parts = both_runs
    differ = [
        t for t in OUTPUTS if _rows(out_parts[parts][t]) != _rows(out_bson[t])
    ]
    assert differ == []


def test_streaming_backups_through_incremental_entity(spark, tmp_path):
    """End-to-end incremental ingest: mongodump drops → streaming tail
    → entity transformation → exactly-once parquet sink, across two
    restarts of the query (checkpointed offsets)."""
    from pyspark.sql import functions as F

    from mongodb_etl_migration_spark.fixtures import roles_df

    roles = roles_df(spark)
    drops = tmp_path / "drops"
    drops.mkdir()
    sink = str(tmp_path / "sink")
    chk = str(tmp_path / "chk")
    register_mongodump(spark)

    def entity(df):
        # the role entity's core shape: normalized name + defaults
        return df.select(
            F.col("_id").alias("mongo_id"),
            F.upper(F.trim("name")).alias("name"),
            F.coalesce("default", F.lit(False)).alias("is_default"),
        )

    def drop_and_run(rows, fname):
        _to_bson_file(rows.collect(), drops / fname)
        stream = (
            spark.readStream.format("mongodump")
            .schema(roles.schema)
            .option("path", str(drops))
            .load()
        )
        q = (
            stream.writeStream.foreachBatch(
                lambda df, _bid: entity(df).write.mode("append").parquet(sink)
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(60)

    first = roles.limit(3)
    rest = roles.join(first.select("_id"), "_id", "left_anti")
    drop_and_run(first, "drop-1.bson")
    drop_and_run(rest, "drop-0.bson")  # sorts BEFORE drop-1: seen-set offsets
    out = spark.read.parquet(sink)
    assert out.count() == roles.count()  # every role exactly once
    assert out.select("mongo_id").distinct().count() == roles.count()
    assert out.filter(F.col("name") != F.upper("name")).count() == 0
