"""Driver threads for independent Spark jobs.

Actions run one after another only because the driver calls them one
after another: two jobs submitted from two driver threads share the
executors, so a job that cannot fill every core (a small dimension, a
range-bound sample, a broadcast) leaves room for the other.

``DriverThreads`` is the engine's one way to start such threads:

- each thread is an ``InheritableThread``, so it carries the caller's
  job group, description and other local properties (jobs it launches
  are attributed to the caller's group) and the session's tags;
- ``start`` returns a join callable that returns the thread's result
  or re-raises its failure, so a task that needs another's result
  simply calls that task's join;
- leaving the ``with`` block joins every thread it started and
  re-raises the first failure; a failure inside the block itself wins,
  once every thread is joined. No thread outlives the block.

There is one thread per started task and no pool to size: the callers
start a handful of tasks whose jobs the scheduler interleaves.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Any, TypeVar

from pyspark import InheritableThread
from pyspark.sql import SparkSession

T = TypeVar("T")


class DriverThreads:
    """``with DriverThreads(spark) as threads: join = threads.start(fn)``."""

    def __init__(self, spark: SparkSession):
        self._spark = spark
        self._threads: list[InheritableThread] = []
        # failures in the order they happened; a task that re-raises an
        # upstream failure appends it again, after the original
        self._errors: list[BaseException] = []

    def start(self, fn: Callable[..., T], *args: Any) -> Callable[[], T]:
        """Run ``fn(*args)`` on a new driver thread; returns its join."""
        out: dict[str, Any] = {}

        def run() -> None:
            try:
                out["value"] = fn(*args)
            except BaseException as exc:  # joined and re-raised
                out["error"] = exc
                self._errors.append(exc)

        t = InheritableThread(target=run, session=self._spark)
        t.start()
        self._threads.append(t)

        def join() -> T:
            t.join()
            if "error" in out:
                raise out["error"]
            return out["value"]

        return join

    def __enter__(self) -> DriverThreads:
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        for t in self._threads:
            t.join()
        if exc is None and self._errors:
            raise self._errors[0]
