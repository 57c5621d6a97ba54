"""Event sessionization: a new session starts after a gap.

``sessionize_batch`` expresses gap sessions with lag + running-sum
windows — SQL-expressible, so the DuckDB oracle verifies it (query
``e_sessionization``). The windows shuffle once on user_id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sessionize_batch(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    order_tiebreak: str = "event_id",
    gap_minutes: int = 30,
) -> DataFrame:
    """Gap-based sessionization in batch: a new session starts when the
    gap to the previous event of the same key exceeds ``gap_minutes``.
    Output: (user_id, session_idx, session_start, session_end, n_events).
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, order_tiebreak)
    gap_s = gap_minutes * 60
    # NTZ has no direct numeric cast; go through an instant (session is
    # UTC, so the epoch matches DuckDB's epoch(ts))
    epoch = F.col(ts_col).cast("timestamp").cast("double")
    marked = events.withColumn(
        "__new",
        F.when(epoch - F.lag(epoch).over(w) > gap_s, 1).otherwise(0),
    )
    run = Window.partitionBy(key_col).orderBy(ts_col, order_tiebreak).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = marked.withColumn("session_idx", F.sum("__new").over(run))
    return (
        sess.groupBy(key_col, "session_idx")
        .agg(
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )
