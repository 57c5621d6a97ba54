"""E2E parity through the mongodump source: the full 15-entity
migration DAG produces IDENTICAL output whether its sources arrive as
in-memory fixtures or as BSON backup files scanned by
``format("mongodump")`` — the reference's actual input path
(backups/appcampana_db/*.bson), end to end."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import DataFrame

from mongodb_etl_migration_spark.fixtures import all_sources
from mongodb_etl_migration_spark.pipeline import run_reference_pipeline
from mongodb_etl_migration_spark.sources.bson_codec import encode_document
from mongodb_etl_migration_spark.sources.mongodump_source import (
    register_mongodump,
)


def _to_bson_file(df: DataFrame, path) -> None:
    with open(path, "wb") as f:
        for row in df.collect():
            f.write(encode_document(row.asDict(recursive=True)))


def _roundtrip(spark, df: DataFrame, path) -> DataFrame:
    _to_bson_file(df, path)
    return (
        spark.read.format("mongodump")
        .schema(df.schema)
        .option("path", str(path))
        .load()
    )


def _rows(df: DataFrame) -> set:
    return {tuple(map(repr, r)) for r in df.collect()}


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
    # read the sources back before the pipeline plans filtered queries
    # on them: afterwards an unfiltered read would hit the leak too
    sources_differ = [
        name for name in direct if _rows(direct[name]) != _rows(via_bson[name])
    ]
    run_ts = datetime(2024, 1, 1)
    return (
        sources_differ,
        run_reference_pipeline(direct, run_ts),
        run_reference_pipeline(via_bson, run_ts),
    )


def test_sources_roundtrip_through_backups(both_runs):
    sources_differ, _, _ = both_runs
    assert sources_differ == []


def test_pipeline_returns_every_output(both_runs):
    _, out_direct, out_bson = both_runs
    assert sorted(out_direct) == sorted(out_bson) == list(OUTPUTS)


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
    _, out_direct, out_bson = both_runs
    assert _rows(out_direct[table]) == _rows(out_bson[table])


def test_streaming_backups_through_incremental_entity(spark, tmp_path):
    """End-to-end incremental ingest: mongodump drops → streaming tail
    → entity transformation → exactly-once parquet sink, across two
    restarts of the query (checkpointed offsets)."""
    from pyspark.sql import functions as F

    from mongodb_etl_migration_spark.fixtures import roles_df
    from mongodb_etl_migration_spark.streaming.incremental import (
        run_incremental,
    )

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
        _to_bson_file(rows, drops / fname)
        stream = (
            spark.readStream.format("mongodump")
            .schema(roles.schema)
            .option("path", str(drops))
            .load()
        )
        q = run_incremental(stream, entity, sink, chk)
        q.awaitTermination(60)

    first = roles.limit(3)
    rest = roles.join(first.select("_id"), "_id", "left_anti")
    drop_and_run(first, "drop-1.bson")
    drop_and_run(rest, "drop-0.bson")  # sorts BEFORE drop-1: seen-set offsets
    out = spark.read.parquet(sink)
    assert out.count() == roles.count()  # every role exactly once
    assert out.select("mongo_id").distinct().count() == roles.count()
    assert out.filter(F.col("name") != F.upper("name")).count() == 0
