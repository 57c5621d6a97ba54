"""Materialized-path hierarchy resolution — SURVEY.md J9.

The reference migrates a folder tree whose parentage is encoded as a
string path ('/a/b/c') by looping over depth levels with an
accumulating path→id dict (etl/orchestrator.py:743-1000). The loop
exists only because the reference assigns ids AS it walks; parentage
itself is purely structural — a folder's parent is the folder whose
path equals parent_path(path). Once ids are assigned up front, the
whole tree resolves with ONE self-join: no driver loop, no per-level
checkpoints, plan depth independent of tree depth.

Determinism: ids are a dense row_number over (depth, path), so re-runs
and the DuckDB oracle (row_number over the full set) agree exactly —
id assignment is order-defined, not arrival-defined (SURVEY
§7.4.1/.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mongodb_etl_migration_spark.functions.scalars import parent_path, path_depth


def resolve_folder_tree(folders: DataFrame, path_col: str = "path") -> DataFrame:
    """Assign ids to folders and resolve each folder's parent id.

    Input: one row per folder with its full materialized path.
    Output: path, depth, folder_id, parent_id (0 for roots/orphans —
    the reference's default-to-root rule, orchestrator.py:893-933).

    Plan shape — fully declarative, no action:

    1. distinct paths + depth/parent_path derivation, in ONE task: a
       folder tree is dimension-sized (hundreds of rows even at 100 TB
       of documents), so one exchange into a single partition carries
       the dedup and the numbering;
    2. dense ids by (depth, path): one row_number window over that
       single partition;
    3. one broadcast self-join on parent_path (if a tree ever outgrew
       broadcast, drop the hint and the same join shuffles).

    The numbered base feeds two subtrees (parent map, main), so it is
    materialized ONCE via ``localCheckpoint(eager=False)`` rather than
    DataFrame.persist(): a CacheManager entry is keyed by logical plan
    and outlives every reference, while local-checkpoint blocks belong
    to the RDD and are freed by the ContextCleaner as soon as the
    caller drops the result frame. The pin calls no action, yet under
    AQE building it runs the stages below it (the scan and the
    single-partition exchange) before this function returns; the
    numbering stage runs with the first consumer's action, which
    stores the blocks, and the other consumer reuses them.
    """
    base = (
        folders.select(F.col(path_col).alias("path"))
        .withColumn("depth", path_depth("path"))
        .withColumn(
            "parent_path",
            # parent_path('/') is '/' itself — null the root's parent
            # lookup or the self-join would make the root its own
            # parent instead of the reference's parent_id = 0
            F.when(path_depth("path") == 0, F.lit(None).cast("string")).otherwise(
                parent_path("path")
            ),
        )
        # depth is a function of path, so dropDuplicates(depth, path)
        # is distinct-by-path; the single partition serves both the
        # dedup and the window below
        .repartition(1, F.col("depth"))
        .dropDuplicates(["depth", "path"])
    )
    # a global window, single-task BY DECLARATION: the rows already
    # sit in the one partition above
    w = Window.partitionBy(F.lit(0)).orderBy("depth", "path")
    base = base.withColumn(
        "folder_id", F.row_number().over(w).cast("bigint")
    ).localCheckpoint(eager=False)
    parents = base.select(
        F.col("path").alias("parent_path"),
        F.col("folder_id").alias("parent_id"),
    )
    return (
        base.join(F.broadcast(parents), "parent_path", "left")
        .withColumn(
            "parent_id", F.coalesce(F.col("parent_id"), F.lit(0)).cast("bigint")
        )
        .select("path", "depth", "folder_id", "parent_id")
    )


def resolve_files_to_folders(
    files: DataFrame,
    folder_ids: DataFrame,
    on_folder_col: str = "on_folder",
) -> DataFrame:
    """Attach files to their folder id; unresolved paths → root (0) —
    etl/orchestrator.py:893-933."""
    fmap = folder_ids.select(
        F.col("path").alias(on_folder_col), F.col("folder_id").alias("parent_id")
    )
    return (
        files.join(F.broadcast(fmap), on_folder_col, "left")
        .withColumn("parent_id", F.coalesce(F.col("parent_id"), F.lit(0)).cast("bigint"))
    )
