"""Multi-dimensional data layout: Z-order (Morton) clustering.

The 100 TB problem this solves: parquet min/max data skipping prunes
on ONE sort dimension — a table sorted by date answers date ranges
with few files but scans everything for a customer-key predicate.
Interleaving the bits of k dimensions into one Z-value and sorting by
THAT bounds every dimension's value range within each file, so
point/range predicates on ANY of the k columns skip most files (the
technique behind Delta/Iceberg OPTIMIZE ZORDER BY; Morton 1966).

Everything here is integer-exact bit arithmetic (shiftleft/OR over
BIGINT), so the DuckDB oracle reproduces Z-values bit-for-bit and the
layout receipt (per-file min/max bounds) is deterministic. ``zvalue``
is the single Morton implementation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zvalue(cols: list[Column | str], bits: int = 16) -> Column:
    """Morton code of k non-negative integer columns, ``bits`` low
    bits each (values are masked to that width — callers bucket or
    scale into range first). Bit i of column j lands at position
    i*k + j, so the result fits a BIGINT for k*bits <= 63. Pure
    Column bit arithmetic — k*bits shift/OR terms, all inside
    whole-stage codegen, zero UDF, zero shuffle."""
    k = len(cols)
    if k < 1:
        raise ValueError("zvalue needs at least one column")
    if k * bits > 63:
        raise ValueError(f"{k} cols x {bits} bits exceeds a BIGINT")
    cs = [
        (F.col(c) if isinstance(c, str) else c).cast("bigint")
        for c in cols
    ]
    out = F.lit(0).cast("bigint")
    for j, c in enumerate(cs):
        for i in range(bits):
            # bit i of column j -> bit i*k + j of the code
            out = out.bitwiseOR(
                F.shiftleft(
                    F.shiftright(c, i).bitwiseAND(F.lit(1)), i * k + j
                )
            )
    return out


def zvalue_sql(cols: list[str], bits: int = 16) -> str:
    """The identical Morton code as a DuckDB SQL expression — same
    term order, same shift/AND/OR semantics on BIGINT — so oracle
    comparisons are bit-exact."""
    k = len(cols)
    terms = []
    for j, c in enumerate(cols):
        for i in range(bits):
            terms.append(
                f"(((CAST({c} AS BIGINT) >> {i}) & 1) << {i * k + j})"
            )
    return "(" + " | ".join(terms) + ")"


def zorder_layout(
    df: DataFrame,
    cols: list[Column | str],
    bits: int = 16,
    n_files: int = 8,
    out_col: str = "zval",
    file_col: str = "file_id",
) -> DataFrame:
    """Assign each row its Z-value and the file it would land in
    under a Z-ordered write: files are equal-depth Z-RANGES, exactly
    what repartitionByRange(zval) + sortWithinPartitions(zval)
    produces at write time (the range partitioner samples boundaries;
    this computes them exactly). Returned instead of written so
    layouts are queryable/oracle-able.

    Two passes by design, t_quality_cutoff's shape: the exact
    boundary percentiles collapse to ONE driver-side row of
    n_files-1 doubles (percentile() bit-matches DuckDB's
    quantile_cont), which fold back in as literal comparisons — no
    global window (a single-task ntile would be the classic
    scale-killer; the package lint bans it). At 100 TB swap
    approx_percentile into the same two-pass shape.

    Boundary comparisons run in DOUBLE (percentile interpolates), so
    Z-codes must stay within double's 2^53 exact-integer range —
    len(cols)*bits is capped at 53 here (zvalue alone allows 63)."""
    if len(cols) * bits > 53:
        raise ValueError(
            f"{len(cols)} cols x {bits} bits exceeds double's exact "
            "integer range; equal-depth boundaries compare in DOUBLE"
        )
    z = df.withColumn(out_col, zvalue(cols, bits))
    if n_files < 2:
        return z.withColumn(file_col, F.lit(1).cast("bigint"))
    ps = ", ".join(str(i / n_files) for i in range(1, n_files))
    bounds = z.select(
        F.expr(f"percentile({out_col}, array({ps}))").alias("b")
    ).head()[0]
    if bounds is None:  # empty input: no boundaries, single file
        return z.withColumn(file_col, F.lit(1).cast("bigint"))
    fid: Column = F.lit(1)
    for b in bounds:
        fid = fid + F.when(
            F.col(out_col).cast("double") > F.lit(float(b)), 1
        ).otherwise(0)
    return z.withColumn(file_col, fid.cast("bigint"))


def layout_pruning_stats(
    laid_out: DataFrame,
    dim_cols: list[str],
    file_col: str = "file_id",
) -> DataFrame:
    """Per-file min/max bounds of every dimension — the data-skipping
    receipt. A predicate ``dim BETWEEN lo AND hi`` must scan exactly
    the files whose [min, max] intersects it; tight bounds on ALL
    dimensions are what Z-ordering buys over a single-column sort.
    One partial-agg exchange on file_col."""
    aggs = []
    for c in dim_cols:
        aggs.append(F.min(c).cast("bigint").alias(f"min_{c}"))
        aggs.append(F.max(c).cast("bigint").alias(f"max_{c}"))
    return (
        laid_out.groupBy(F.col(file_col))
        .agg(F.count("*").cast("bigint").alias("n_rows"), *aggs)
    )
