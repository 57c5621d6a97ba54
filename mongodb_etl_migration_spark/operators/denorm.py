"""Denormalization operators — SURVEY.md §2.5 J4–J8.

The reference implements these as driver-side dict probes over rows it
reads back from its own sinks (etl/orchestrator.py:1106-1471). Here
each is a pure DataFrame derivation: lazily planned, shuffle-aware, and
broadcast-friendly, so the same code runs on 100 TB — the "read back
from Cassandra" step disappears by construction (SURVEY §7.4.5).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def top1_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_by: Sequence[Column],
) -> DataFrame:
    """J5/O2: last-message-per-room — etl/orchestrator.py:1266-1276
    (per-room ``ORDER BY message_id DESC LIMIT 1``). The engine's one
    top-1 body: A7 first-wins dedup (cassandra_id_mapper.py:61-69,
    with "first" defined by an explicit ordering, SURVEY §7.4.3), CDC
    change compaction (:func:`apply_cdc`) and the crawl-layer URL
    dedup all call it.

    Window + row_number: one hash shuffle on the group key, no join.
    Pass fully-deterministic ``order_by`` (include a unique tiebreaker)
    so results are replayable. At scale this is the standard
    "latest-record" pattern; AQE handles group-key skew (a hot room
    lands in one partition but only its top row survives the filter).
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def pair_generation(
    members: DataFrame,
    group_col: str,
    member_col: str,
    order_by: Sequence[Column] | None = None,
) -> DataFrame:
    """J7: p2p pair table — etl/orchestrator.py:1130-1233.

    Rooms with ≥2 participants emit both orderings of the first two
    members: (u1,u2,room) and (u2,u1,room); the reference warns and
    skips rooms with fewer. "First two" is defined by ``order_by``
    (default: the member value itself) for determinism.

    One shuffle (the rank window on group_col; the groupBy that
    follows reuses its hash partitioning) then a 2-row explode — no
    self-join, and per-group state is BOUNDED: only the first two
    members per group (by rank) ever reach the collect, via a
    row_number() ≤ 2 pre-trim that Spark executes as a map-side
    WindowGroupLimit — a pathological hot room with millions of
    members ships 2 rows, not an array of millions, into the
    aggregation buffer (same shape as top1_per_group above).

    A custom ``order_by`` (e.g. joined_at, to match the reference's
    "first two participants") is honored by collecting (keys, member)
    structs and array_sort-ing those — struct comparison is
    lexicographic over fields in order, so the member ranking follows
    the keys, with the member value itself as the final tiebreak. The
    pre-trim ranks by the same (keys, member) order, so it keeps
    exactly the two rows the sort would have put first.
    """
    w_trim = Window.partitionBy(group_col).orderBy(
        *(list(order_by) if order_by else []), F.col(member_col)
    )
    members = (
        members.withColumn("__trim_rn", F.row_number().over(w_trim))
        .filter(F.col("__trim_rn") <= 2)
        .drop("__trim_rn")
    )
    if order_by:
        keyed = F.struct(
            *[k.alias(f"__k{i}") for i, k in enumerate(order_by)],
            F.col(member_col).alias("__m"),
        )
        collected = (
            members.select(F.col(group_col), keyed.alias("__kv"))
            .groupBy(group_col)
            .agg(F.array_sort(F.collect_list("__kv")).alias("__kvs"))
            .filter(F.size("__kvs") >= 2)
            .select(
                group_col,
                F.transform(F.col("__kvs"), lambda s: s["__m"]).alias("__ms"),
            )
        )
    else:
        collected = (
            members.select(group_col, member_col)
            .groupBy(group_col)
            .agg(F.array_sort(F.collect_list(member_col)).alias("__ms"))
            .filter(F.size("__ms") >= 2)
        )
    u1 = F.col("__ms")[0]
    u2 = F.col("__ms")[1]
    return (
        collected.select(
            F.col(group_col),
            F.explode(
                F.array(
                    F.struct(u1.alias("user1"), u2.alias("user2")),
                    F.struct(u2.alias("user1"), u1.alias("user2")),
                )
            ).alias("__p"),
        )
        .select(group_col, "__p.user1", "__p.user2")
    )


def m2m_explode(
    src: DataFrame,
    src_key: str,
    array_col: str,
    left_ids: DataFrame,
    right_ids: DataFrame,
    left_on: str,
    right_on: str,
) -> DataFrame:
    """J4: many-to-many bridge build — etl/orchestrator.py:1002-1104
    (user.profession[]/entities[] → explode → resolve both sides'
    surrogate ids; misses dropped ⇒ inner joins).

    ``left_ids``/``right_ids`` are (natural_key → surrogate id) maps
    with columns ``left_on``/``right_on`` plus the id; both are
    broadcast (dimension-sized), so the bridge never shuffles. A NULL
    or empty array emits no rows (explode, not explode_outer), so no
    NULL guard is needed on ``array_col``.
    """
    exploded = src.select(
        F.col(src_key).alias(left_on),
        F.explode(array_col).alias(right_on),
    )
    return exploded.join(F.broadcast(left_ids), left_on, "inner").join(
        F.broadcast(right_ids), right_on, "inner"
    )


def merge_update(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    set_cols: Sequence[str],
) -> DataFrame:
    """J8: membership-lookup UPDATE — etl/orchestrator.py:1409-1471
    (per-row UPDATE ... WHERE user_id, room_id) as a join-based merge:
    matched rows take the update's values, unmatched keep their own.
    On a Delta/Iceberg sink this compiles to MERGE INTO; expressed here
    engine-agnostically as a left join + coalesce."""
    upd = updates.select(
        *keys, *[F.col(c).alias(f"__u_{c}") for c in set_cols]
    )
    out = target.join(upd, list(keys), "left")
    for c in set_cols:
        out = out.withColumn(c, F.coalesce(F.col(f"__u_{c}"), F.col(c)))
    return out.drop(*[f"__u_{c}" for c in set_cols])


def upsert(
    target: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    set_cols: Sequence[str],
) -> DataFrame:
    """S8: the reference's ``INSERT ... ON CONFLICT (id) DO UPDATE``
    (etl/loaders/postgres_loader.py:29-65) as a declarative merge over
    the target state:

    - matched target rows take the update's ``set_cols`` values
      UNCONDITIONALLY (a NULL update value overwrites — exact
      ON CONFLICT semantics, unlike :func:`merge_update`'s coalesce);
      all other target columns are preserved;
    - update rows with no matching key are INSERTED, with
      target-only columns NULL;
    - target rows with no matching update pass through unchanged.

    ``updates`` MUST be unique per key — PostgreSQL raises "cannot
    affect row a second time" for duplicate conflict keys in one
    statement, and this join-based form would instead silently fan
    matched target rows out (row-count corruption). Pre-aggregate
    (e.g. :func:`top1_per_group`) when the update stream can repeat
    keys.

    Plan shape: one equi-join on the key for the update side and one
    left-anti join for the insert side. With a dimension-sized updates
    side both joins BROADCAST, so this is two shuffle-free passes over
    the target (the anti pass is column-pruned to the keys) — chosen
    over the single-pass FULL OUTER formulation deliberately: Spark
    cannot broadcast a full outer join, so that shape would shuffle
    the entire target on the key, which at 100 TB costs far more than
    a second pruned scan.
    """
    keys = list(keys)
    upd = updates.select(
        *keys,
        F.lit(True).alias("__matched"),
        *[F.col(c).alias(f"__u_{c}") for c in set_cols],
    )
    merged = target.join(upd, keys, "left")
    for c in set_cols:
        merged = merged.withColumn(
            c,
            F.when(F.col("__matched"), F.col(f"__u_{c}")).otherwise(F.col(c)),
        )
    merged = merged.drop("__matched", *[f"__u_{c}" for c in set_cols])

    inserts = updates.join(target.select(*keys), keys, "left_anti")
    insert_sel = []
    for f in target.schema.fields:
        if f.name in keys or f.name in set_cols:
            insert_sel.append(F.col(f.name).cast(f.dataType).alias(f.name))
        else:
            insert_sel.append(F.lit(None).cast(f.dataType).alias(f.name))
    return merged.unionByName(inserts.select(*insert_sel))


def apply_cdc(
    target: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str,
    op_col: str,
    set_cols: Sequence[str],
) -> DataFrame:
    """Materialize a CDC change stream onto the target state:
    ``changes`` rows carry an operation (``'I'``/``'U'`` upsert,
    ``'D'`` delete) and a monotonic ``seq_col``; per key, ONLY the
    latest change applies (last-writer-wins), earlier ones are
    superseded — the standard change-log compaction before a merge.
    I and U both mean "make the row look like this" (upsert), so
    replaying a log where the I was already consumed converges to the
    same state. Output: the new target.

    Plan shape: change compaction is a per-key top-1 (map-side
    WindowGroupLimit — the J5 shape: ~#keys rows shuffle, not the
    log); the apply is :func:`upsert`'s broadcast-friendly
    two-join form plus one left-anti for the deletes. The target
    never shuffles.

    ``seq_col`` ties MUST be impossible (unique per key — sequence
    numbers, log offsets); a tie would make last-writer
    nondeterministic, so prefer a (ts, offset) struct when timestamps
    can collide.
    """
    latest = top1_per_group(changes, keys, [F.col(seq_col).desc()])
    upserts = latest.filter(F.col(op_col) != "D").select(*keys, *set_cols)
    deletes = latest.filter(F.col(op_col) == "D").select(*keys)
    merged = upsert(target, upserts, keys, set_cols)
    return merged.join(deletes, list(keys), "left_anti")
