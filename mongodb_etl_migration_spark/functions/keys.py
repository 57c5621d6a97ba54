"""Surrogate-key generation — SURVEY.md §2.4 (K1–K3).

The reference generates keys with in-memory caches and counters
(etl/utils/cassandra_id_mapper.py); here every key is a deterministic
function of the input so both outputs of a dual-destination entity (and
any re-run) agree by construction — no cross-DB sync step (K4) needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


# Shared hex formatting for the JVM-side UUID builders: Spark's hex()
# is uppercase with no leading zeros; RFC-4122 text is lowercase,
# fixed-width.
def _hex_field(col: Column, width: int) -> Column:
    return F.lpad(F.lower(F.hex(col)), width, "0")


# uuid.NAMESPACE_OID.bytes — the 16-byte RFC-4122 OID namespace.
_NS_OID_HEX = "6BA7B8129DAD11D180B400C04FD430C8"


# ------------------------------------------------------------------- K1
def uuid5_oid(mongo_id: Column | str) -> Column:
    """Deterministic UUID5(NAMESPACE_OID, mongo_id) —
    etl/utils/cassandra_id_mapper.py:45-71.

    Same input ⇒ same UUID across entities/runs; the keystone the
    reference validates at scripts/validate_migration.py:234-270.

    Pure Column expression (JVM codegen): RFC-4122 §4.3 composes the
    v5 uuid from sha1(namespace_bytes || utf8(name)) — Spark's sha1()
    returns exactly that digest as 40 lowercase hex chars, and the
    layout is hex slicing plus two nibble patches (version '5' at
    digest byte 6's high nibble, variant 10xx at byte 8's top bits).
    No JVM→Python hop, no Arrow transpose — guide §4.1 "always prefer
    built-ins". NULL in ⇒ NULL out (concat propagates the NULL sha1).
    """
    c = F.col(mongo_id) if isinstance(mongo_id, str) else mongo_id
    h = F.sha1(F.concat(F.unhex(F.lit(_NS_OID_HEX)), F.encode(c, "UTF-8")))
    clock_hi = (
        F.conv(F.substring(h, 17, 2), 16, 10)
        .cast("int")
        .bitwiseAND(F.lit(0x3F))
        .bitwiseOR(F.lit(0x80))
    )
    return F.concat(
        F.substring(h, 1, 8), F.lit("-"),
        F.substring(h, 9, 4), F.lit("-"),
        F.lit("5"), F.substring(h, 14, 3), F.lit("-"),
        _hex_field(clock_hi, 2), F.substring(h, 19, 2), F.lit("-"),
        F.substring(h, 21, 12),
    )


# ------------------------------------------------------------------- K2
def timeuuid_deterministic(
    mongo_id: Column | str, ts_millis: Column | str
) -> Column:
    """RFC-4122 v1-format UUID whose 60-bit timestamp comes from
    ``ts_millis`` and whose clock-seq/node bits are sha1(mongo_id) —
    etl/utils/cassandra_id_mapper.py:116-138 re-expressed determinis-
    tically (the reference uses random clock-seq/node; the only property
    its schema relies on is timestamp-prefix ordering,
    backups/create_scylla_database.cql:46 — preserved here, plus
    replayability the reference lacks; SURVEY.md §7.4.2).

    Pure Column expression (JVM codegen) since round 14: the time
    fields are long bit-arithmetic over ``100-ns intervals since
    1582-10-15`` and the sha1-derived bits are hex slices of Spark's
    sha1() — no Python boundary (guide §4.1). NULL mongo_id or NULL
    ts ⇒ NULL uuid.
    """
    mid = F.col(mongo_id) if isinstance(mongo_id, str) else mongo_id
    ms = F.col(ts_millis) if isinstance(ts_millis, str) else ts_millis
    # NaN guard (ADVICE r14): a double NaN would cast('long') to 0
    # under non-ANSI Spark (a uuid at the 1582 epoch); a NaN time is
    # no time, so the key is NULL. Integral inputs pass through the
    # double cast losslessly for the check only.
    ms = F.when(~F.isnan(ms.cast("double")), ms)
    # 100-ns intervals since 1582-10-15 (RFC 4122 epoch offset).
    ts = ms.cast("long") * F.lit(10000) + F.lit(0x01B21DD213814000)
    time_low = ts.bitwiseAND(F.lit(0xFFFFFFFF))
    time_mid = F.shiftright(ts, 32).bitwiseAND(F.lit(0xFFFF))
    time_hi_version = (
        F.shiftright(ts, 48).bitwiseAND(F.lit(0x0FFF)).bitwiseOR(F.lit(0x1000))
    )
    h = F.sha1(F.encode(mid, "UTF-8"))
    clock_hi = (
        F.conv(F.substring(h, 1, 2), 16, 10)
        .cast("int")
        .bitwiseAND(F.lit(0x3F))
        .bitwiseOR(F.lit(0x80))
    )
    return F.concat(
        _hex_field(time_low, 8), F.lit("-"),
        _hex_field(time_mid, 4), F.lit("-"),
        _hex_field(time_hi_version, 4), F.lit("-"),
        _hex_field(clock_hi, 2), F.substring(h, 3, 2), F.lit("-"),
        F.substring(h, 5, 12),
    )


# ------------------------------------------------------------------- K3
def assign_sequential_ids(
    df: DataFrame,
    order_by: list[Column | str],
    id_col: str = "id",
    start: int = 1,
) -> DataFrame:
    """Contiguous sequential int ids, deterministic given sort order —
    etl/utils/cassandra_id_mapper.py:212-230,257-267 (global counter
    resumed from MAX(id)+1) re-expressed scalably.

    A naive global ``row_number()`` over an un-partitioned window pulls
    every row through ONE task — unusable at 100 TB. Instead:

    1. range-partition by the ordering key (parallel sort),
    2. number rows within each partition (no extra shuffle),
    3. add per-partition offsets: a cumulative sum over the per-
       partition counts (#partitions rows), broadcast back via join on
       partition id — all in-plan, nothing returns to the driver;
       empty input yields an empty aggregate and so an empty output.

    Wall-clock is one range shuffle + one window within partitions —
    the same cost profile as a distributed sort.

    repartitionByRange samples its range bounds with a seed taken from
    the sampled RDD's id (``RangePartitioner.sketch`` seeds partition
    ``idx``'s reservoir sample with ``byteswap32(idx ^ (rdd.id << 16))``).
    Every evaluation of the plan builds a new RDD with a new id, so two
    independent evaluations can draw different bounds and place boundary
    rows in different partitions — silently duplicating or dropping ids. The
    numbered frame is read twice (counts and ids), so it is pinned by
    a ``localCheckpoint(eager=False)``: both reads consume the one
    checkpointed RDD, whose range partitioner was built once, so they
    agree on every row's partition.

    The input is pinned the same way before the range shuffle. The
    partitioner's sample job reads every input row, and so does the
    shuffle map; without the pin each would evaluate the input (a
    source decode, its filters and joins) on its own. With it the
    sample job materializes the input once and the map reads those
    blocks.

    "Lazy" here means no action is called, not that nothing runs: under
    AQE, building either pin plans its frame and runs every shuffle
    and broadcast stage below it (for ``numbered``: the sample and the
    range shuffle) before this function returns. The offsets aggregate
    and the ids run with the consumer's action.

    The range shuffle is ``spark.sql.shuffle.partitions`` wide: every
    range partition is a task in each job that reads the numbering,
    and at fact-table scale that width keeps the sort parallel.
    """
    n_part = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    w = Window.partitionBy("__pid").orderBy(*order_by)
    numbered = (
        df.localCheckpoint(eager=False)
        .repartitionByRange(int(n_part), *order_by)
        .withColumn("__pid", F.spark_partition_id())
        .withColumn("__rn", F.row_number().over(w))
        .localCheckpoint(eager=False)
    )
    w_cum = (
        Window.partitionBy(F.lit(0))
        .orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        numbered.groupBy("__pid")
        .agg(F.count("*").alias("__cnt"))
        .withColumn("__off", F.coalesce(F.sum("__cnt").over(w_cum), F.lit(0)))
        .select("__pid", "__off")
    )
    return (
        numbered.join(F.broadcast(offsets), "__pid")
        .withColumn(
            id_col,
            (F.col("__rn") + F.col("__off") + F.lit(start - 1)).cast("bigint"),
        )
        .drop("__rn", "__off", "__pid")
    )
