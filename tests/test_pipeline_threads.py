"""The migration builds its entities on driver threads
(``threads.DriverThreads``): the jobs they launch stay in the caller's
job group, the output does not depend on how the threads interleave,
no thread outlives the build, and a failing task fails the build with
its own error."""

from __future__ import annotations

import threading
import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from mongodb_etl_migration_spark.fixtures import all_sources
from mongodb_etl_migration_spark.operators.validation import table_checksum
from mongodb_etl_migration_spark.pipeline import run_reference_pipeline
from mongodb_etl_migration_spark.threads import DriverThreads

RUN_TS = datetime(2021, 1, 1)
GROUP = "pipeline-threads-test"


def _digest(out: dict) -> dict[str, tuple[int, int]]:
    """table -> (rows, table_checksum) over its int/string/bool columns."""
    ok = ("int", "bigint", "string", "boolean")
    digest = {}
    for name, df in out.items():
        r = table_checksum(df, [c for c, t in df.dtypes if t in ok]).first()
        digest[name] = (int(r["n_rows"]), int(r["checksum"] or 0))
    return digest


@pytest.fixture(scope="module")
def grouped_run(spark):
    """One build under a job group, with the threads alive before and
    after it and the ids of the jobs launched outside any group."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    bus = sc._jsc.sc().listenerBus()
    src = all_sources(spark)
    bus.waitUntilEmpty()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    # Releasing a py4j proxy left by an earlier test (a foreachBatch
    # function) opens a JVM-to-Python callback connection, which runs
    # on a new Python thread. Finalize such proxies now, so a JVM GC
    # during the build cannot add that thread to the build's.
    sc._jvm.System.gc()
    sc._jvm.System.runFinalization()
    threads_before = set(threading.enumerate())
    sc.setJobGroup(GROUP, GROUP)
    try:
        out = run_reference_pipeline(src, RUN_TS)
    finally:
        sc._jsc.clearJobGroup()
    threads_after = set(threading.enumerate())
    bus.waitUntilEmpty()
    ungrouped = set(tracker.getJobIdsForGroup(None)) - ungrouped_before
    return out, ungrouped, threads_after - threads_before


def test_build_jobs_stay_in_the_callers_group(spark, grouped_run):
    _, ungrouped, _ = grouped_run
    assert spark.sparkContext.statusTracker().getJobIdsForGroup(GROUP)
    assert ungrouped == set()


def test_no_build_thread_outlives_the_build(grouped_run):
    _, _, new_threads = grouped_run
    assert not [t for t in new_threads if t.is_alive()]


def test_two_concurrent_builds_write_identical_tables(spark, grouped_run):
    """A second build, and builds under other partition counts and
    without adaptive execution, write the same 22 tables: no id or row
    depends on how the session splits or re-plans the work."""
    out1, _, _ = grouped_run
    assert len(out1) == 22
    want = _digest(out1)
    assert _digest(run_reference_pipeline(all_sources(spark), RUN_TS)) == want
    for key, value in (
        ("spark.sql.shuffle.partitions", "1"),
        ("spark.sql.shuffle.partitions", "7"),
        ("spark.sql.adaptive.enabled", "false"),
    ):
        old = spark.conf.get(key)
        spark.conf.set(key, value)
        try:
            got = _digest(run_reference_pipeline(all_sources(spark), RUN_TS))
        finally:
            spark.conf.set(key, old)
        assert got == want, f"{key}={value}"


class _Boom(Exception):
    pass


class _RaisingSource:
    """Stands in for a loaded collection whose every use raises."""

    def __getattr__(self, name):
        raise _Boom(name)


def test_failing_source_fails_the_build_with_its_error(spark):
    src = all_sources(spark)
    # live waits on channel, which waits on user and rooms: the failure
    # happens while other entity tasks are still building
    src["lives"] = _RaisingSource()
    before = set(threading.enumerate())
    with pytest.raises(_Boom):
        run_reference_pipeline(src, RUN_TS)
    assert not [t for t in set(threading.enumerate()) - before if t.is_alive()]


def test_driver_threads_reraise_the_first_failure(spark):
    first, second = _Boom("first"), _Boom("second")
    gate = threading.Event()

    def fail_first():
        raise first

    def fail_after_first():
        gate.wait(30)
        raise second

    with pytest.raises(_Boom) as info:
        with DriverThreads(spark) as threads:
            threads.start(fail_after_first)
            joined = threads.start(fail_first)
            with pytest.raises(_Boom):
                joined()
            gate.set()
    assert info.value is first


def test_driver_threads_join_before_the_blocks_error_propagates(spark):
    def slow():
        time.sleep(0.2)
        return spark.range(3).select(F.sum("id")).first()[0]

    before = set(threading.enumerate())
    with pytest.raises(ValueError, match="block"):
        with DriverThreads(spark) as threads:
            threads.start(slow)
            raise ValueError("block")
    assert not [t for t in set(threading.enumerate()) - before if t.is_alive()]


def test_driver_threads_under_fast_switching(spark):
    """More threads than cores with a short switch interval: every
    result arrives, the raised error is one the tasks raised, and no
    thread is left alive."""
    import sys

    n = 32
    errors = {i: _Boom(i) for i in range(0, n, 5)}

    def task(i):
        if i in errors:
            raise errors[i]
        return i * i

    before = set(threading.enumerate())
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with pytest.raises(_Boom) as info:
            with DriverThreads(spark) as threads:
                joins = [threads.start(task, i) for i in range(n)]
    finally:
        sys.setswitchinterval(old)
    assert any(info.value is e for e in errors.values())
    assert not [t for t in set(threading.enumerate()) - before if t.is_alive()]
    for i, join in enumerate(joins):
        if i in errors:
            with pytest.raises(_Boom):
                join()
        else:
            assert join() == i * i
