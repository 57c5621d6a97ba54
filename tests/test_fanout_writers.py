"""§2.9 multi-output fan-out and run-metrics tests.

The reference feeds one transformed batch into up to 5 side-output
tables per pass (etl/orchestrator.py:326-453). Here: one lazily
checkpointed entity plan → N projections → N parquet sinks.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mongodb_etl_migration_spark.plans.compiler import compile_entity_outputs
from mongodb_etl_migration_spark.plans.spec import EntitySpec


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
        df.write.mode("overwrite").parquet(str(tmp_path / name))
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
