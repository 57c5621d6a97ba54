"""Incremental/streaming mode (beyond-reference extension).

The reference is a one-shot batch pipeline (SURVEY.md §2.10 — no
streaming anywhere). This package adds watermarked event-time
aggregation for the events stream, gap sessionization and a
stream-stream interval join.
"""

from mongodb_etl_migration_spark.streaming.incremental import (  # noqa: F401
    windowed_event_counts,
)
