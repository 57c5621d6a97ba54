"""Materialized-path hierarchy resolution — SURVEY.md J9.

The reference migrates a folder tree whose parentage is encoded as a
string path ('/a/b/c') by looping over depth levels with an
accumulating path→id dict (etl/orchestrator.py:743-1000). The loop
exists only because the reference assigns ids AS it walks; parentage
itself is purely structural — a folder's parent is the folder whose
path equals parent_path(path). Once ids are assigned up front, the
whole tree resolves with ONE self-join: no driver loop, no per-level
checkpoints, plan depth independent of tree depth.

Determinism: ids are assigned by dense ordering over (depth, path) via
depth-partitioned numbering plus cumulative level offsets (no
single-task global window, no sampled range bounds), so re-runs and
the DuckDB oracle (row_number over the full set) agree exactly — id
assignment is order-defined, not arrival-defined (SURVEY §7.4.1/.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mongodb_etl_migration_spark.functions.keys import _number_with_offsets
from mongodb_etl_migration_spark.functions.scalars import parent_path, path_depth


def resolve_folder_tree(
    folders: DataFrame,
    path_col: str = "path",
    id_start: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """Assign ids to folders and resolve each folder's parent id.

    Input: one row per folder with its full materialized path.
    Output: path, depth, folder_id, parent_id (0 for roots/orphans —
    the reference's default-to-root rule, orchestrator.py:893-933).

    Plan shape — fully declarative, ONE Spark job at action time:

    1. distinct paths + depth/parent_path derivation;
    2. dense ids by (depth, path) WITHOUT a global sort OR sampling:
       row_number partitioned BY DEPTH (parallel across levels, and a
       single level of any real folder tree fits one task) plus a
       cumulative per-depth offset from a #depths-row aggregate (the
       offsets helper keys.assign_sequential_ids also uses, grouped by
       depth instead of by range partition) — no eager driver jobs;
    3. one broadcast self-join on parent_path (the folder set is
       dimension-sized even at 100 TB of documents; if a tree ever
       outgrew broadcast, drop the hint and the same join shuffles).

    ``num_partitions`` sizes the one exchange (and therefore every
    downstream task count). A folder tree is dimension-sized and its
    window parallelism is bounded by #depth-levels anyway, so callers
    with a known-small tree should pass 1-4 — at the default 32, the
    three consumers of the materialized base each schedule 32 tasks
    over a few hundred rows, pure overhead (same guidance as
    functions/keys.assign_sequential_ids).

    The numbered base feeds three subtrees (offset agg, parent map,
    main), so it is materialized ONCE via a lazy localCheckpoint rather
    than DataFrame.persist(): a CacheManager entry is keyed by logical
    plan and outlives every reference (a long-lived session
    accumulates one per distinct input — the round-3 heap creep),
    while local-checkpoint blocks belong to the RDD and are freed by
    the ContextCleaner as soon as the caller drops the result frame.
    Whichever consumer runs first materializes the blocks and the rest
    reuse them; no extra build-time job.
    """
    n_part = num_partitions or int(
        folders.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
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
        # ONE exchange serves both the dedup and the rank window:
        # depth is a function of path, so dropDuplicates(depth, path)
        # ≡ distinct-by-path, and hashpartitioning(depth) satisfies
        # BOTH ClusteredDistribution(depth, path) (the dedup
        # aggregate) and the window's partitionBy(depth) — Catalyst
        # inserts no further exchange after this repartition
        .repartition(n_part, F.col("depth"))
        .dropDuplicates(["depth", "path"])
    )
    if n_part == 1:
        # The caller declared the tree single-partition-small: the
        # rows already sit in ONE task, so the offsets decomposition
        # below would only re-derive what a direct dense numbering
        # gives for free — one window, no per-depth count aggregate,
        # no broadcast join (one fewer job at action time). The
        # partitionBy(lit(0)) window is single-task BY DECLARATION
        # here, not an accidental global sort — multi-partition trees
        # take the decomposed branch.
        w_one = Window.partitionBy(F.lit(0)).orderBy("depth", "path")
        base = base.withColumn(
            "folder_id",
            (F.row_number().over(w_one) + F.lit(id_start - 1)).cast("bigint"),
        ).localCheckpoint(eager=False)
    else:
        base = _number_with_offsets(base, "depth", ["path"], "folder_id", id_start)
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
