"""Z-order layout: Morton-code correctness against a reference
interleave, the locality guarantee that justifies the operator (every
file bounds EVERY dimension), and the write-side twin."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from mongodb_etl_migration_spark.operators import layout as LO  # noqa: E402


def _morton_ref(vals: list[int], bits: int) -> int:
    out = 0
    for j, v in enumerate(vals):
        for i in range(bits):
            out |= ((v >> i) & 1) << (i * len(vals) + j)
    return out


def test_zvalue_matches_reference_interleave(spark):
    """Column Morton code == the plain-Python reference on a planted
    set including the hand-checkable KAT z(x=3, y=1, 2 bits) = 0b0111
    and values exercising the mask boundary."""
    assert _morton_ref([3, 1], 2) == 7
    rows = [
        (0, 0), (3, 1), (1, 3), (31, 0), (0, 31), (31, 31),
        (1023, 511), (512, 1),
    ]
    df = spark.createDataFrame(rows, "x long, y long")
    got = {
        (r.x, r.y): r.z
        for r in df.withColumn(
            "z", LO.zvalue(["x", "y"], bits=10)
        ).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == _morton_ref([x, y], 10), (x, y)
    # 3 dimensions interleave too
    d3 = spark.createDataFrame([(5, 6, 7)], "a long, b long, c long")
    z3 = d3.select(LO.zvalue(["a", "b", "c"], bits=4).alias("z")).head()[0]
    assert z3 == _morton_ref([5, 6, 7], 4)

    import pytest

    with pytest.raises(ValueError, match="BIGINT"):
        LO.zvalue(["a", "b"], bits=32)
    with pytest.raises(ValueError, match="at least one"):
        LO.zvalue([], bits=4)


def test_zorder_layout_bounds_every_dimension(spark):
    """The point of Z-ordering: on a full 32x32 grid split into 16
    equal-depth Z-range files, EVERY file's min/max range is <= 7 in
    BOTH dimensions (each file is an 8x8 block), where a row-major
    sort would span the full 0..31 in the second dimension for every
    file."""
    grid = spark.range(32 * 32).select(
        (F.col("id") % 32).alias("d1"),
        (F.col("id") / 32).cast("long").alias("d2"),
    )
    laid = LO.zorder_layout(grid, ["d1", "d2"], bits=5, n_files=16)
    stats = LO.layout_pruning_stats(laid, ["d1", "d2"]).collect()
    assert len(stats) == 16
    assert sum(r.n_rows for r in stats) == 1024
    for r in stats:
        assert r.max_d1 - r.min_d1 <= 7, r
        assert r.max_d2 - r.min_d2 <= 7, r
    # the counter-factual: the same 16 equal-depth files over a
    # ROW-MAJOR order leave d1 unbounded (full 0..31 span) in every
    # file — this is what Z-ordering buys
    rowmajor = grid.withColumn("file_id", (F.col("d2") / 2).cast("bigint"))
    rstats = LO.layout_pruning_stats(rowmajor, ["d1", "d2"]).collect()
    assert all(r.max_d1 - r.min_d1 == 31 for r in rstats)
