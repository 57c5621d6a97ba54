"""Data-profiling operators: heavy hitters (frequent items).

Complements the sketch queries a12 (HyperLogLog++ distinct) and a13
(Greenwald-Khanna percentiles) with the third classic streaming
summary: frequent-element detection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def profile_report(df: DataFrame, cols: list[str]) -> DataFrame:
    """Per-column profiling report — (column, n_rows, n_nulls,
    n_distinct) one row per profiled column — the ANALYZE-style pass a
    curation dashboard runs before deciding filters.

    ONE scan for all columns: the aggregate computes every column's
    counters in a single pass (the multiple count-distincts compile to
    one Expand ×
    len(cols) + two-stage aggregate — rows replicate, the table is
    still read once), then a ``stack`` unpivot reshapes the single
    result row. At 100 TB swap the exact count-distincts for
    approx_count_distinct (a12's HLL path) — exact multi-distinct
    replicates the shuffle per column; the sketch version folds into
    one partial aggregate. Exact is kept here because it is what the
    cross-engine oracle can verify bit-for-bit.
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"_nulls_{c}"))
        aggs.append(F.count_distinct(F.col(c)).alias(f"_dist_{c}"))
    one = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', _nulls_{c}, _dist_{c}" for c in cols
    )
    return one.select(
        F.expr(
            f"stack({len(cols)}, {stack_args}) AS (column, n_nulls, n_distinct)"
        ),
        F.col("_n").alias("n_rows"),
    ).select("column", "n_rows", "n_nulls", "n_distinct")


def heavy_hitters(df: DataFrame, key_col: str, support: float) -> DataFrame:
    """EXACT heavy hitters — every key with frequency > ``support`` of
    the row count — via the classic two-pass sketch+confirm shape.

    Pass 1 is Spark's one-pass frequent-items summary
    (``df.stat.freqItems``, the Karp-Schenker-Papadimitriou algorithm:
    map-side bounded state of ~1/support counters per partition, merge
    on the driver). Its guarantee is one-sided: every key above
    support is IN the candidate list; false positives possible. Pass 2
    filters the input to candidates (an isin over ≤ 1/support values —
    plan-literal, evaluated in the scan) and counts exactly, keeping
    keys above threshold. One-sided candidates + exact confirm =
    exact, deterministic output, which is what makes this
    oracle-checkable against plain GROUP BY/HAVING SQL.

    100 TB shape: pass 1 never shuffles rows (bounded per-partition
    state, driver merge of ≤ partitions × 1/support entries); pass 2's
    groupBy shuffles only rows whose key is a candidate — for skewed
    data (where heavy hitters exist) that is the hot fraction, not the
    corpus, and partial aggregation collapses it map-side to ≤
    1/support rows per partition BEFORE the exchange. The extra
    count() for the threshold is a columnar metadata-only scan.
    Output: (key_col, cnt), keys with cnt > support·n.
    """
    if not 1e-4 <= support <= 1.0:
        raise ValueError(f"support must be in [1e-4, 1], got {support}")
    candidates = [
        r for r in df.stat.freqItems([key_col], support).head()[0]
        if r is not None
    ]
    threshold = support * df.count()
    if not candidates:
        empty = df.select(F.col(key_col)).limit(0)
        return empty.groupBy(key_col).agg(F.count("*").alias("cnt"))
    return (
        df.filter(F.col(key_col).isin(candidates))
        .groupBy(key_col)
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") > F.lit(threshold))
    )


def _hash60(value, salt: str):
    """The engine-portable 60-bit md5 hash idiom over a value column
    — identical on Spark and DuckDB, uniform enough for sketching."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws("#", F.lit(salt), value.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")


def kmv_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    k: int = 64,
    salt: str = "kmv",
) -> DataFrame:
    """KMV (k-minimum-values / bottom-k) distinct-count sketch — the
    MERGEABLE cardinality summary (Bar-Yossef et al. 2002) a 100 TB
    pipeline keeps per shard/partition where exact distinct counts
    would shuffle the world: per group, the k smallest 60-bit hashes
    of the distinct values. Estimate: with fewer than k distinct
    hashes the count is EXACT (the sketch holds them all); otherwise
    the classic unbiased (k−1)·2^60/h_k. Deterministic end to end —
    the md5 hash idiom is engine-portable, so the oracle reproduces
    sketch AND estimate bit-for-bit (the estimate is one IEEE double
    division of exact integers).

    Plan shape: distinct (group, hash) pre-aggregates map-side (the
    inverted-index exchange class); the bottom-k trim is a
    WindowGroupLimit — each map task ships at most k rows per group.
    Output: (group_cols..., kmv array<long> ascending, n_seen
    bigint = len(kmv), distinct_est double).
    """
    from pyspark.sql import Window

    if k < 2:
        raise ValueError("k must be >= 2")
    hashed = df.select(
        *group_cols, _hash60(F.col(value_col), salt).alias("__h")
    ).distinct()
    w = Window.partitionBy(*group_cols).orderBy("__h")
    bottom = (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list("__h")).alias("kmv"))
    )
    n_seen = F.size("kmv").cast("bigint")
    kth = F.element_at("kmv", k)
    est = F.when(n_seen < k, n_seen.cast("double")).otherwise(
        F.lit(float(k - 1)) * F.lit(float(2**60)) / kth.cast("double")
    )
    return bottom.select(
        *group_cols,
        "kmv",
        n_seen.alias("n_seen"),
        est.alias("distinct_est"),
    )


def kmv_set_ops(
    a: DataFrame, b: DataFrame, group_cols: list[str], k: int = 64
) -> DataFrame:
    """Set-operation estimates from two KMV sketches (Beyer et al.
    2007, "On synopses for distinct-value estimation under multiset
    operations") — the capability that makes bottom-k sketches more
    than cardinality counters: given per-group sketches of sets A and
    B, estimate |A∪B|, |A∩B| and Jaccard WITHOUT touching the
    original data. Method: X = bottom-k of (K_A ∪ K_B), which equals
    bottom-k of hashes of A∪B (bottom-k of a union is bottom-k of the
    unioned bottom-ks); union_est follows the kmv_sketch estimator on
    X; ρ = |X ∩ K_A ∩ K_B| / |X| is an unbiased Jaccard estimate;
    intersection_est = ρ · union_est. With fewer than k distinct
    hashes everything is EXACT over the hashed sets. Deterministic —
    the estimates are fixed IEEE expressions over exact integers, so
    a SQL oracle reproduces them bit-for-bit.

    Groups present in only one input still appear (union, not join):
    ρ = 0, intersection_est = 0 — the honest answer.

    Plan shape: explode ≤ k rows per group per side, ONE exchange for
    the (group, hash) dedup; the bottom-k trim is a WindowGroupLimit
    reusing that partitioning; final agg is per-group scalars. Input
    rows: (group_cols..., kmv array<long>); output: (group_cols...,
    n_x, n_both bigint, union_est, intersection_est, jaccard_est
    double)."""
    from pyspark.sql import Window

    if k < 2:
        raise ValueError("k must be >= 2")
    ea = a.select(*group_cols, F.explode("kmv").alias("__h")).select(
        "*", F.lit(1).alias("__in_a"), F.lit(0).alias("__in_b")
    )
    eb = b.select(*group_cols, F.explode("kmv").alias("__h")).select(
        "*", F.lit(0).alias("__in_a"), F.lit(1).alias("__in_b")
    )
    u = (
        ea.unionByName(eb)
        .groupBy(*group_cols, "__h")
        .agg(F.max("__in_a").alias("__in_a"), F.max("__in_b").alias("__in_b"))
    )
    w = Window.partitionBy(*group_cols).orderBy("__h")
    x = u.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") <= k
    )
    agg = x.groupBy(*group_cols).agg(
        F.count("*").alias("n_x"),
        F.sum(F.col("__in_a") * F.col("__in_b"))
        .cast("bigint")
        .alias("n_both"),
        F.max("__h").alias("__kth"),
    )
    n_x = F.col("n_x")
    union_est = F.when(n_x < k, n_x.cast("double")).otherwise(
        F.lit(float(k - 1))
        * F.lit(float(2**60))
        / F.col("__kth").cast("double")
    )
    jac = F.col("n_both").cast("double") / n_x.cast("double")
    return agg.select(
        *group_cols,
        n_x.cast("bigint").alias("n_x"),
        "n_both",
        union_est.alias("union_est"),
        (jac * union_est).alias("intersection_est"),
        jac.alias("jaccard_est"),
    )


def cm_sketch(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 64,
    salt: str = "cm",
) -> DataFrame:
    """Count-Min frequency sketch (Cormode & Muthukrishnan 2005) —
    the mergeable companion to kmv_sketch: depth×width integer
    counters estimating any value's frequency with one-sided error
    (estimate ≥ truth, overshoot bounded by collisions). The sketch a
    100 TB pipeline keeps per shard for frequency questions it cannot
    afford exact groupBys for; merging shards is counter-wise
    addition (tested identity vs sketching the concatenation).

    Each row of the sketch hashes with its own salted 60-bit md5
    (engine-portable, so the oracle rebuilds every counter), counter
    index = hash mod width. Plan: depth copies of the value column
    explode narrowly (a plan-literal array of row ids), and the ONLY
    exchange aggregates depth·width counters — fixed-size state at
    any corpus size. Output: (row int, idx int, cnt bigint), only
    touched counters present (absent ⇒ 0)."""
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    # per-row salts: row r hashes with salt '{salt}#{r}' — independent
    # hash functions, the CM requirement
    ex2 = df.select(F.col(value_col).alias("__v")).select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).cast("int").alias("row"),
                        F.pmod(
                            _hash60(F.col("__v"), f"{salt}#{r}"),
                            F.lit(width),
                        )
                        .cast("int")
                        .alias("idx"),
                    )
                    for r in range(depth)
                ]
            )
        ).alias("__ri"),
    )
    return (
        ex2.groupBy(
            F.col("__ri.row").alias("row"), F.col("__ri.idx").alias("idx")
        )
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )


# HLL constants: m = 64 registers (6 bucket bits), rho over a 40-bit
# window, harmonic sum scaled by 2^40 so it is an exact BIGINT.
HLL_M = 64
HLL_RHO_BITS = 40
# alpha_m · m² · 2^40 — ONE Python float literal shared by the Spark
# plan and the SQL oracle, so the estimate is a single IEEE division
# of exact values in both engines.
HLL_A = 0.7213 / (1 + 1.079 / HLL_M) * HLL_M * HLL_M * float(2**HLL_RHO_BITS)


def _hll_linear_table() -> dict[int, float]:
    """Linear-counting estimates m·ln(m/V) for V = 1..m−1 as LITERAL
    doubles (math.log evaluated once in Python, repr-embedded in both
    engines) — the data-independent lookup that keeps libm out of the
    query plans."""
    import math

    return {
        v: HLL_M * math.log(HLL_M / v) for v in range(1, HLL_M)
    }


def hll_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    salt: str = "hll",
) -> DataFrame:
    """HyperLogLog distinct-count sketch built from first principles
    (Flajolet et al. 2007) — DETERMINISTIC and engine-portable,
    unlike opaque built-in HLL states: registers are per-bucket MAXES
    of the leading-zero rank of an md5-derived hash (max is
    order-free, so any partitioning/merge order yields the same
    sketch), and the estimate is one IEEE division of exact integers
    (the harmonic sum is kept scaled by 2^40 as a BIGINT — never an
    order-dependent float summation). Small-range correction uses a
    64-entry literal table instead of calling libm in the plan.

    Plan: ONE exchange — the (group, bucket) register aggregate,
    partial-agg'd map-side to ≤ 64 rows per group per task; the
    dense-digest/estimate step is a per-group reshape. Output:
    (group_cols..., registers '0-3-...-1' dense 64-vector string,
    n_zero bigint, z_scaled bigint, distinct_est double)."""
    # rho is CAPPED at HLL_RHO_BITS: an all-zero 40-bit window folds
    # into m=40 instead of the textbook 41, because the harmonic-sum
    # term is the exact integer `1 << (40 - m)` and m=41 would shift
    # by -1 (Java masks negative shifts to 63 → Long.MIN_VALUE;
    # DuckDB disagrees, so the engines would also diverge). The cap
    # costs 2^-41-probability estimate precision and keeps every term
    # a representable BIGINT. Mirrored in the a37 oracle.
    m_expr = F.when(F.col("__w") == 0, F.lit(HLL_RHO_BITS)).otherwise(
        F.lit(HLL_RHO_BITS + 1) - F.length(F.bin(F.col("__w")))
    )
    h = _hash60(F.col(value_col), salt)
    regs = (
        df.select(
            *group_cols,
            F.pmod(h, F.lit(HLL_M)).alias("__bkt"),
            (
                F.shiftright(h, 6)
                .bitwiseAND(F.lit((1 << HLL_RHO_BITS) - 1))
            ).alias("__w"),
        )
        .withColumn("__m", m_expr)
        .groupBy(*group_cols, "__bkt")
        .agg(F.max("__m").alias("__m"))
    )
    dense = regs.groupBy(*group_cols).agg(
        F.map_from_arrays(
            F.collect_list("__bkt"), F.collect_list("__m")
        ).alias("__regs"),
        F.count("*").alias("__present"),
        F.sum(
            F.expr(f"CAST(1 AS BIGINT) << ({HLL_RHO_BITS} - __m)")
        ).alias("__zp"),
    )
    v = (F.lit(HLL_M) - F.col("__present")).cast("bigint")
    z = (
        F.col("__zp")
        + (F.lit(HLL_M) - F.col("__present"))
        * F.lit(1 << HLL_RHO_BITS)
    ).cast("bigint")
    raw = F.lit(HLL_A) / z.cast("double")
    lc = _hll_linear_table()
    lc_expr = F.lit(None).cast("double")
    for vv in sorted(lc, reverse=True):
        lc_expr = F.when(v == vv, F.lit(lc[vv])).otherwise(lc_expr)
    est = F.when((raw <= F.lit(2.5 * HLL_M)) & (v > 0), lc_expr).otherwise(
        raw
    )
    digest = F.array_join(
        F.transform(
            F.sequence(F.lit(0), F.lit(HLL_M - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("__regs"), i), F.lit(0)
            ).cast("string"),
        ),
        "-",
    )
    return dense.select(
        *group_cols,
        digest.alias("registers"),
        v.alias("n_zero"),
        z.alias("z_scaled"),
        est.alias("distinct_est"),
    )


