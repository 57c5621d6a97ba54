"""Run metrics — SURVEY.md §2.1 S13.

The reference accumulates per-entity extracted/transformed/loaded
counts plus run timings and dumps JSON (etl/utils/metrics.py:102-114).
Engine version: explicit per-output recording (counts come from the
DataFrames the pipeline already computed — no extra scans if the
caller passes known counts) plus a queries-facing DataFrame view.
"""

from __future__ import annotations

import itertools
import json
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

# process-wide: Observation names must be unique per SparkSession,
# and a session outlives any single RunMetrics instance
_OBS_COUNTER = itertools.count()


@dataclass
class EntityMetric:
    entity: str
    rows: int
    seconds: float


@dataclass
class RunMetrics:
    started_at: float = field(default_factory=time.time)
    entities: list[EntityMetric] = field(default_factory=list)
    _pending: list[tuple[str, Observation, float]] = field(default_factory=list)

    def record(self, entity: str, rows: int, seconds: float) -> None:
        self.entities.append(EntityMetric(entity, rows, seconds))

    def observed(self, entity: str, df: DataFrame) -> DataFrame:
        """Attach a row-count observation that RIDES the caller's own
        action (the write) — zero extra scans; a separate ``count()``
        would be a second full pass per entity (a 2× cost on the whole
        pipeline at scale).

        Call :meth:`harvest` right AFTER each entity's action (or
        after a group of concurrent actions): the recorded seconds are
        attach→harvest wall time, so harvesting once at the end of a
        long loop would charge every entity with all subsequent
        entities' writes.
        """
        # uniquified with a process-wide counter, not a per-instance
        # one: Observation names must never recycle within a
        # SparkSession, and two RunMetrics objects in one session
        # would otherwise mint the same names and cross-wire counts
        obs = Observation(
            f"metrics_{entity}_{next(_OBS_COUNTER)}"
        )
        self._pending.append((entity, obs, time.perf_counter()))
        return df.observe(obs, F.count(F.lit(1)).alias("rows"))

    def harvest(self) -> None:
        """Record every pending observation. Blocks until the observed
        DataFrames' actions have run (Observation.get waits)."""
        for entity, obs, t0 in self._pending:
            self.record(entity, int(obs.get["rows"]), time.perf_counter() - t0)
        self._pending.clear()

    @property
    def total_rows(self) -> int:
        return sum(e.rows for e in self.entities)

    def as_dict(self) -> dict:
        return {
            "started_at": self.started_at,
            "total_rows": self.total_rows,
            "entities": [
                {"entity": e.entity, "rows": e.rows, "seconds": round(e.seconds, 3)}
                for e in self.entities
            ],
        }

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.as_dict(), f, indent=2)

    def as_dataframe(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            [(e.entity, e.rows, float(e.seconds)) for e in self.entities],
            "entity string, rows long, seconds double",
        )
