"""§2.9 multi-output fan-out and §2.1 sink layout tests.

The reference feeds one transformed batch into up to 5 side-output
tables per pass (etl/orchestrator.py:326-453) and writes Cassandra
tables with (partition key, clustering order) layout
(backups/create_scylla_database.cql:21-46). Here: one lazily
checkpointed entity plan → N projections → N parquet sinks; clustered
writes sort within hash partitions.
"""

from __future__ import annotations

import glob

import duckdb
from pyspark.sql import functions as F

from mongodb_etl_migration_spark.plans.compiler import compile_entity_outputs
from mongodb_etl_migration_spark.plans.spec import EntitySpec
from mongodb_etl_migration_spark.sources.writers import (
    align_to_schema,
    write_clustered,
    write_table,
)


def _cols(*names):
    """Identity projection dict for an EntitySpec."""
    return {n: F.col(n) for n in names}


def test_fanout_projections_and_writes(spark, sf_dir, tmp_path):
    base = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .withColumn("_is_org", F.col("c_acctbal") > 5000)
    )
    spec = EntitySpec(
        destination="details",
        projection=_cols("c_custkey", "c_name", "c_mktsegment", "_is_org"),
        side_outputs={
            "organizations": (
                F.col("_is_org"),
                _cols("c_custkey", "_is_org"),
            ),
            "by_segment": (None, _cols("c_mktsegment", "c_custkey")),
        },
    )
    outs = compile_entity_outputs(spec, base)
    assert set(outs) == {"details", "organizations", "by_segment"}
    total = base.count()
    n_orgs = base.filter(F.col("c_acctbal") > 5000).count()
    for name, df in outs.items():
        write_table(df, str(tmp_path / name))
    for name in outs:
        back = spark.read.parquet(str(tmp_path / name))
        assert back.count() == (n_orgs if name == "organizations" else total), name
    assert outs["organizations"].filter("_is_org").count() == n_orgs


def test_fanout_leaves_no_cache_entries(spark, sf_dir):
    """Structural lifecycle fix: repeated fan-outs in one session must
    not grow the CacheManager (the old persist() contract relied on
    the caller unpersisting; localCheckpoint blocks are owned by the
    RDD and freed by the ContextCleaner instead)."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    # other tests in the session-scoped fixture may have cached frames;
    # clearing is safe (cached plans just recompute) and gives the
    # no-growth assertion a clean zero
    spark.catalog.clearCache()
    assert cm.isEmpty()
    spec = EntitySpec(
        destination="region",
        projection=_cols("r_regionkey", "r_name", "k"),
        side_outputs={
            # a filter that keeps every row: the counts below stay equal
            "a": (F.col("r_regionkey") >= 0, _cols("r_regionkey", "k")),
            "b": (None, _cols("r_name")),
        },
    )
    for i in range(3):
        base = spark.read.parquet(f"{sf_dir}/region.parquet").withColumn(
            "k", F.col("r_regionkey") + i
        )
        outs = compile_entity_outputs(spec, base)
        assert outs["a"].count() == outs["b"].count() == base.count()
    assert cm.isEmpty(), "fan-out leaked CacheManager entries"


def test_write_clustered_layout(spark, sf_dir, tmp_path):
    from mongodb_etl_migration_spark.catalog import Catalog

    events = Catalog(spark, sf_dir).events
    path = str(tmp_path / "events_by_user")
    write_clustered(
        events, path, "user_id", [F.col("ts").desc(), F.col("event_id").desc()]
    )
    back = spark.read.parquet(path)
    assert back.count() == events.count()
    # clustering: every file is internally sorted desc by (ts, event_id)
    con = duckdb.connect()
    files = glob.glob(f"{path}/*.parquet")
    assert files
    for f in files[:4]:
        bad = con.execute(
            f"""
            SELECT count(*) FROM (
              SELECT ts, event_id,
                     lag(ts) OVER (ROWS UNBOUNDED PRECEDING) AS prev_ts,
                     lag(event_id) OVER (ROWS UNBOUNDED PRECEDING) AS prev_id
              FROM read_parquet('{f}')
            ) WHERE prev_ts IS NOT NULL
              AND (ts > prev_ts OR (ts = prev_ts AND event_id > prev_id))
            """
        ).fetchone()[0]
        assert bad == 0, f"rows out of clustering order in {f}"
    # partition pruning shape: one user's rows live in exactly one file
    one_user = con.execute(
        f"""
        SELECT count(DISTINCT filename) FROM read_parquet('{path}/*.parquet',
               filename=true) WHERE user_id = 7
        """
    ).fetchone()[0]
    assert one_user <= 1


def test_align_to_schema_adds_null_columns(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/region.parquet")
    out = align_to_schema(df, ["r_regionkey", "r_name", "mongo_id", "deleted_at"])
    assert out.columns == ["r_regionkey", "r_name", "mongo_id", "deleted_at"]
    row = out.limit(1).collect()[0]
    assert row["mongo_id"] is None and row["deleted_at"] is None


def test_run_metrics_json(spark, sf_dir, tmp_path):
    from mongodb_etl_migration_spark.metrics import RunMetrics

    m = RunMetrics()
    df = spark.read.parquet(f"{sf_dir}/region.parquet")
    m.observed("region", df).write.format("noop").mode("overwrite").save()
    m.harvest()
    n = m.entities[0].rows
    assert n == df.count()
    out = tmp_path / "metrics.json"
    m.save(str(out))
    import json

    data = json.loads(out.read_text())
    assert data["total_rows"] == n
    assert data["entities"][0]["entity"] == "region"
    assert m.as_dataframe(spark).count() == 1


def test_run_metrics_observed_rides_the_write(spark, sf_dir, tmp_path):
    """S13 at scale: observed() counts ride the write action itself —
    ONE job per entity output, no second count() scan — and the
    observed row counts equal a direct count."""
    from pyspark.sql import functions as F

    from mongodb_etl_migration_spark.metrics import RunMetrics

    m = RunMetrics()
    region = spark.read.parquet(f"{sf_dir}/region.parquet")
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet")

    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup(None) or [])

    m.observed("region", region).write.mode("overwrite").parquet(
        str(tmp_path / "region")
    )
    m.observed("nation", nation.filter(F.col("n_regionkey") >= 0)).write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "nation"))
    m.harvest()

    jobs_after = len(tracker.getJobIdsForGroup(None) or [])
    assert jobs_after - jobs_before <= 2, "metrics ran extra jobs"
    by_entity = {e.entity: e.rows for e in m.entities}
    assert by_entity["region"] == region.count()
    assert by_entity["nation"] == nation.count()


def test_zorder_prunes_on_both_dimensions(spark, tmp_path):
    """Z-order layout: a predicate on the NON-leading dimension touches
    far fewer files than a linear sort on the other dimension (where
    every file spans the full range of the second column). Files
    'touched' = distinct input files containing matching rows — the
    set parquet min/max skipping reads."""
    from mongodb_etl_migration_spark.sources.writers import (
        write_zordered,
    )

    # 256x256 uniform grid
    grid = (
        spark.range(256 * 256)
        .select(
            (F.col("id") % 256).alias("x"),
            (F.col("id") / 256).cast("long").alias("y"),
        )
    )
    zpath = str(tmp_path / "zorder")
    lpath = str(tmp_path / "linear")
    write_zordered(grid, zpath, ["x", "y"], bits=8, n_files=16)
    grid.repartitionByRange(16, "x").sortWithinPartitions("x").write.parquet(lpath)

    def files_touched(path, pred):
        return (
            spark.read.parquet(path)
            .filter(pred)
            .select(F.input_file_name())
            .distinct()
            .count()
        )

    pred_y = (F.col("y") >= 100) & (F.col("y") < 116)  # y-only rectangle
    z_files = files_touched(zpath, pred_y)
    lin_files = files_touched(lpath, pred_y)
    assert lin_files == 16  # linear-by-x: every file spans all y
    assert z_files <= lin_files // 2, (z_files, lin_files)

    # and the data survives intact
    assert spark.read.parquet(zpath).count() == 256 * 256
    got = spark.read.parquet(zpath).filter(pred_y).count()
    assert got == 256 * 16


def test_bucketed_join_has_no_shuffle(spark, sf_dir, tmp_path):
    """Co-located bucketed tables join with zero Exchange nodes —
    the pay-the-shuffle-once layout for repeated key joins at scale."""
    from mongodb_etl_migration_spark.sources.writers import write_bucketed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    customer = spark.read.parquet(f"{sf_dir}/customer.parquet")
    write_bucketed(
        orders, "b_orders", str(tmp_path / "b_orders"), "o_custkey", 8
    )
    write_bucketed(
        customer.withColumnRenamed("c_custkey", "o_custkey"),
        "b_customer",
        str(tmp_path / "b_customer"),
        "o_custkey",
        8,
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("b_orders").join(
            spark.table("b_customer"), "o_custkey"
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and it computes the right thing
        expected = orders.join(
            customer, orders.o_custkey == customer.c_custkey
        ).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    from mongodb_etl_migration_spark.catalog import Catalog
    from mongodb_etl_migration_spark.sources.writers import write_partitioned

    events = Catalog(spark, sf_dir).events.withColumn(
        "event_date", F.to_date("ts")
    )
    path = str(tmp_path / "events_by_date")
    write_partitioned(events, path, ["event_date"])

    n_dates = events.select("event_date").distinct().count()
    assert n_dates > 1
    back = spark.read.parquet(path)
    one_day = back.filter(F.col("event_date") == "2024-01-03")
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_date" in plan
    # pruned scan reads exactly the one partition's rows
    want = events.filter(F.col("event_date") == "2024-01-03").count()
    assert one_day.count() == want > 0
    # and the physical file listing is limited to that directory
    import re

    m = re.search(r"numFiles=(\d+)", plan) or re.search(
        r"files: (\d+)", plan
    )
    if m:
        total_files = len(
            [p for p in __import__("glob").glob(f"{path}/*/*.parquet")]
        )
        assert int(m.group(1)) < total_files


def test_write_compacted_file_count(spark, sf_dir, tmp_path):
    """write_compacted: tiny input → 1 file regardless of input task
    count; small target → multiple near-even files."""
    import glob

    from mongodb_etl_migration_spark.catalog import Catalog
    from mongodb_etl_migration_spark.sources.writers import write_compacted

    li = Catalog(spark, sf_dir).lineitem.repartition(16)
    out1 = str(tmp_path / "one")
    n1 = write_compacted(li, out1)
    files1 = glob.glob(f"{out1}/*.parquet")
    assert n1 == 1 and len(files1) == 1

    out2 = str(tmp_path / "many")
    n2 = write_compacted(li, out2, target_file_bytes=8 * 1024)
    files2 = glob.glob(f"{out2}/*.parquet")
    assert n2 == len(files2) > 1
    sizes = sorted(__import__("os").path.getsize(f) for f in files2)
    assert sizes[0] > 0.3 * sizes[-1]  # round-robin repartition ⇒ even files
    assert spark.read.parquet(out2).count() == li.count()
