"""Deterministic sampling properties (operators/sampling.py). Bulk
engine-parity is the oracle suite (t_deterministic_sample /
t_train_test_split / t_stratified_sample)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mongodb_etl_migration_spark.catalog import Catalog
from mongodb_etl_migration_spark.operators import sampling as SM


def test_split_disjoint_exhaustive_stable(spark, sf_dir):
    d = Catalog(spark, sf_dir).documents
    train, test = SM.train_test_split(d, "doc_id", 0.2)
    n, ntr, nte = d.count(), train.count(), test.count()
    assert ntr + nte == n
    assert train.join(test, "doc_id", "inner").count() == 0
    # stability: the same rows are picked regardless of partition layout
    t2 = SM.train_test_split(d.repartition(7), "doc_id", 0.2)[1]
    assert t2.exceptAll(test).count() == 0 and test.exceptAll(t2).count() == 0
    # roughly 20% (hash uniformity; generous tolerance at 500 docs)
    assert 0.1 < nte / n < 0.3


def test_sample_is_subset_and_nested(spark, sf_dir):
    d = Catalog(spark, sf_dir).documents
    s10 = SM.deterministic_sample(d, "doc_id", 0.1)
    s20 = SM.deterministic_sample(d, "doc_id", 0.2)
    # gates nest: the 10% sample is contained in the 20% sample
    assert s10.join(s20, "doc_id", "left_anti").count() == 0
    assert s10.count() < s20.count()


def test_weighted_mix_rates_and_stability(spark, sf_dir):
    d = Catalog(spark, sf_dir).documents
    rates = {"src0": 1.0, "src1": 0.5, "src3": 0.0}
    mixed = SM.weighted_mix(d, "doc_id", "source", rates)
    by_src = {
        r["source"]: r["n"]
        for r in mixed.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    n_src0 = d.filter(F.col("source") == "src0").count()
    # rate 1.0 keeps every row; rate 0.0 and unlisted sources drop all
    assert by_src.get("src0") == n_src0
    assert "src3" not in by_src and "src2" not in by_src
    # ~50% of src1, generous tolerance at 25 docs/source
    assert 0 < by_src.get("src1", 0) < n_src0
    # layout-independent: identical row set after repartition
    m2 = SM.weighted_mix(d.repartition(7), "doc_id", "source", rates)
    assert m2.exceptAll(mixed).count() == 0 and mixed.exceptAll(m2).count() == 0


def test_stratified_quota_and_maplimit(spark, sf_dir):
    d = Catalog(spark, sf_dir).documents
    out = SM.stratified_take(d, ["lang"], 10, "doc_id")
    per = out.groupBy("lang").count().collect()
    assert all(r["count"] <= 10 for r in per)
    assert len(per) == d.select("lang").distinct().count()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_temperature_mix_upsamples_small_domains(spark):
    from mongodb_etl_migration_spark.operators.sampling import temperature_mix

    rows = [(i, "big" if i % 10 < 9 else "small") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id long, grp string")
    kept = temperature_mix(df, "doc_id", "grp", budget=400)
    by_grp = {
        r.grp: r.cnt
        for r in kept.groupBy("grp").agg(F.count("*").alias("cnt")).collect()
    }
    n_big, n_small = 1800, 200
    # α=0.5 target shares: √1800 : √200 ≈ 3:1 of the 400 budget
    assert 250 < by_grp["big"] < 350
    assert 70 < by_grp["small"] < 130
    # small domain keeps a ~3x higher RATE than its corpus share
    assert by_grp["small"] / n_small > 2.5 * by_grp["big"] / n_big
    # deterministic: rerun keeps the identical row set
    again = temperature_mix(df, "doc_id", "grp", budget=400)
    assert sorted(r.doc_id for r in kept.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_temperature_mix_caps_at_full_group_and_empty(spark):
    from mongodb_etl_migration_spark.operators.sampling import temperature_mix

    df = spark.createDataFrame(
        [(i, "tiny" if i < 5 else "rest") for i in range(1000)],
        "doc_id long, grp string",
    )
    # budget so large the tiny group's rate caps at 1.0 -> all 5 kept
    kept = temperature_mix(df, "doc_id", "grp", budget=900)
    tiny = kept.filter(F.col("grp") == "tiny").count()
    assert tiny == 5
    empty = spark.createDataFrame([], "doc_id long, grp string")
    assert temperature_mix(empty, "doc_id", "grp", budget=10).count() == 0


def test_temperature_mix_null_and_nonstring_groups(spark):
    from mongodb_etl_migration_spark.operators.sampling import temperature_mix

    df = spark.createDataFrame(
        [(i, True if i % 3 == 0 else (False if i % 3 == 1 else None))
         for i in range(300)],
        "doc_id long, grp boolean",
    )
    kept = temperature_mix(df, "doc_id", "grp", budget=150)
    n = kept.count()
    assert 100 < n < 200  # all three groups sampled, none dropped wholesale
    assert kept.filter(F.col("grp").isNull()).count() > 0


def test_kmv_sketch_merge_equals_whole(spark):
    """KMV mergeability — the property that makes it the 100 TB
    answer: the k smallest hashes of two independently sketched
    shards' union equal the sketch of the concatenated input exactly;
    small groups are counted EXACTLY (n_seen < k path), and the
    estimate lands within the standard ~1/sqrt(k) band on a big
    group."""
    from pyspark.sql import functions as F

    from mongodb_etl_migration_spark.operators import profiling as P

    rows = [("g1", f"v{i % 500}") for i in range(2000)] + [
        ("g2", f"w{i}") for i in range(5)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    whole = {
        r.g: (list(r.kmv), r.n_seen, r.distinct_est)
        for r in P.kmv_sketch(df, ["g"], "v", k=32).collect()
    }
    # exact path: g2 has 5 < 32 distincts
    assert whole["g2"][1] == 5 and whole["g2"][2] == 5.0
    # estimate path: g1 has 500 distincts; ~1/sqrt(32) ≈ 18% band
    assert 350 <= whole["g1"][2] <= 650
    # shard + merge == whole, bit for bit
    h1 = df.filter(F.substring(F.md5("v"), 1, 1).isin(*"01234567"))
    h2 = df.subtract(h1)
    shards = [
        {r.g: list(r.kmv) for r in P.kmv_sketch(h, ["g"], "v", k=32).collect()}
        for h in (h1, h2)
    ]
    for g, (kmv, _, _) in whole.items():
        union = {x for s in shards for x in s.get(g, [])}
        assert sorted(union)[:32] == kmv, g
    import pytest

    with pytest.raises(ValueError, match="k must"):
        P.kmv_sketch(df, ["g"], "v", k=1)


def _cm_estimate(sketch_rows, values, depth, width, salt="cm"):
    """Point queries against a collected Count-Min sketch: min over
    rows of the value's counter, hashed as ``profiling.cm_sketch``
    does."""
    import hashlib

    table = {(r, i): c for r, i, c in sketch_rows}

    def h(value, r):
        return int(hashlib.md5(f"{salt}#{r}#{value}".encode()).hexdigest()[:15], 16) % width

    return {v: min(table.get((r, h(v, r)), 0) for r in range(depth)) for v in values}


def test_cm_sketch_onesided_merge_and_estimates(spark):
    """Count-Min: estimates are one-sided (>= truth) and exact for
    the heavy values at this width; merging per-shard sketches
    counter-wise equals sketching the concatenation; fixed state
    (at most depth*width counters)."""
    from pyspark.sql import functions as F

    from mongodb_etl_migration_spark.operators import profiling as P

    rows = (
        [("heavy",)] * 500
        + [("medium",)] * 50
        + [(f"tail{i}",) for i in range(200)]
    )
    df = spark.createDataFrame(rows, "v string")
    sk = P.cm_sketch(df, "v", depth=4, width=64)
    collected = [(r.row, r.idx, r.cnt) for r in sk.collect()]
    assert len(collected) <= 4 * 64
    est = _cm_estimate(collected, ["heavy", "medium", "absent"], 4, 64)
    true = {"heavy": 500, "medium": 50, "absent": 0}
    for v, t in true.items():
        assert est[v] >= t
    assert est["heavy"] < 600  # collisions can't drown the heavy hitter
    # merge = counter-wise sum of shard sketches == whole-input sketch
    h1 = df.filter(F.substring(F.md5("v"), 1, 1).isin(*"01234567"))
    h2 = df.exceptAll(h1)  # exceptAll keeps multiplicity (subtract dedups)
    s1 = [(r.row, r.idx, r.cnt) for r in P.cm_sketch(h1, "v", 4, 64).collect()]
    s2 = [(r.row, r.idx, r.cnt) for r in P.cm_sketch(h2, "v", 4, 64).collect()]
    merged = {}
    for r, i, c in s1 + s2:
        merged[(r, i)] = merged.get((r, i), 0) + c
    whole = {(r, i): c for r, i, c in collected}
    assert merged == whole
    import pytest

    with pytest.raises(ValueError, match="depth"):
        P.cm_sketch(df, "v", depth=0)


def test_kmv_set_ops_exact_and_estimated(spark):
    """kmv_set_ops: with fewer than k distinct hashes the union /
    intersection / Jaccard are EXACT over the value sets; on a big
    overlap the Jaccard estimate lands in the ~1/sqrt(k) band; a
    group present in only one side reports zero overlap instead of
    vanishing."""
    from mongodb_etl_migration_spark.operators import profiling as P

    # g1: A = {v0..v9}, B = {v5..v14} → |A∪B|=15, |A∩B|=5, J=1/3
    # g_only_a: exists in A alone
    a_rows = [("g1", f"v{i}") for i in range(10)] + [
        ("g_only_a", f"x{i}") for i in range(3)
    ]
    b_rows = [("g1", f"v{i}") for i in range(5, 15)]
    a = spark.createDataFrame(a_rows, "g string, v string")
    b = spark.createDataFrame(b_rows, "g string, v string")
    res = {
        r.g: r.asDict()
        for r in P.kmv_set_ops(
            P.kmv_sketch(a, ["g"], "v", k=32),
            P.kmv_sketch(b, ["g"], "v", k=32),
            ["g"],
            k=32,
        ).collect()
    }
    g1 = res["g1"]
    assert g1["n_x"] == 15 and g1["n_both"] == 5
    assert g1["union_est"] == 15.0
    assert g1["intersection_est"] == 5.0
    assert abs(g1["jaccard_est"] - 1 / 3) < 1e-12
    only = res["g_only_a"]
    assert only["n_both"] == 0 and only["intersection_est"] == 0.0

    # estimate path: 2000-distinct union, true J = 1000/2000 = 0.5
    big_a = spark.createDataFrame(
        [("g", f"u{i}") for i in range(1500)], "g string, v string"
    )
    big_b = spark.createDataFrame(
        [("g", f"u{i}") for i in range(500, 2000)], "g string, v string"
    )
    row = P.kmv_set_ops(
        P.kmv_sketch(big_a, ["g"], "v", k=64),
        P.kmv_sketch(big_b, ["g"], "v", k=64),
        ["g"],
        k=64,
    ).head()
    assert 1400 <= row.union_est <= 2600  # ~1/sqrt(64) band
    assert 0.25 <= row.jaccard_est <= 0.75

    import pytest

    with pytest.raises(ValueError, match="k must"):
        P.kmv_set_ops(a, b, ["g"], k=1)


def test_hll_sketch_merge_equals_whole(spark):
    """HLL mergeability: register-wise max of per-shard register
    digests is bit-identical to sketching the concatenated input;
    small groups take the linear-counting branch and land near-exact;
    the big group's estimate sits in the ~1.04/sqrt(64)≈13% band."""
    from pyspark.sql import functions as F

    from mongodb_etl_migration_spark.operators import profiling as P

    rows = [("g1", f"v{i % 500}") for i in range(2000)] + [
        ("g2", f"w{i}") for i in range(5)
    ]
    df = spark.createDataFrame(rows, "g string, v string")
    whole = {
        r.g: (r.registers, r.n_zero, r.z_scaled, r.distinct_est)
        for r in P.hll_sketch(df, ["g"], "v").collect()
    }
    assert 350 <= whole["g1"][3] <= 650
    assert 4 <= whole["g2"][3] <= 6  # linear counting, near exact
    assert whole["g2"][1] > 0  # zero registers present → LC branch
    h1 = df.filter(F.substring(F.md5("v"), 1, 1).isin(*"01234567"))
    h2 = df.subtract(h1)
    shards = [
        {r.g: r.registers for r in P.hll_sketch(h, ["g"], "v").collect()}
        for h in (h1, h2)
    ]
    for g, (registers, _, _, _) in whole.items():
        regs = [[int(x) for x in s[g].split("-")] for s in shards if g in s]
        assert "-".join(str(max(m)) for m in zip(*regs)) == registers, g


def test_temperature_mix_tokens_weighs_tokens_not_docs(spark):
    """Token-weighted α=0.5 mixing: (1) matches a pure-Python
    reference of the documented formula (md5 hash gate included)
    row for row; (2) two domains with EQUAL token totals get EQUAL
    keep probability even when one has 10x the documents — the case
    doc-count weighting gets wrong; (3) zero-token and NULL-token
    groups keep nothing."""
    import hashlib
    import math

    from mongodb_etl_migration_spark.operators.sampling import (
        _SPACE,
        temperature_mix_tokens,
    )

    # group A: 100 docs x 40 tokens; group B: 10 docs x 400 tokens
    # (equal 4000-token totals); group C: tokens NULL
    rows = (
        [(i, "a", 40) for i in range(100)]
        + [(1000 + i, "b", 400) for i in range(10)]
        + [(2000, "c", None)]
    )
    df = spark.createDataFrame(rows, "doc_id long, grp string, ntok int")
    budget = 2000
    kept = {
        r.doc_id
        for r in temperature_mix_tokens(
            df, "doc_id", "grp", "ntok", budget_tokens=budget
        ).collect()
    }

    totals = {"a": 4000, "b": 4000}
    sq = {g: math.isqrt(t * 10_000) for g, t in totals.items()}
    tot = sum(sq.values())
    cuts = {
        g: min(_SPACE, _SPACE * budget * sq[g] // (tot * totals[g]))
        for g in totals
    }
    assert cuts["a"] == cuts["b"]  # equal tokens => equal probability

    def h60(doc_id):
        return int(
            hashlib.md5(f"temptok#{doc_id}".encode()).hexdigest()[:15], 16
        )

    ref = {
        i for i, g, _t in rows if g in cuts and h60(i) < cuts[g]
    }
    assert kept == ref
    assert 2000 not in kept  # NULL-token group keeps nothing
