"""Skew-mitigation equivalence tests + hypothesis property tests for
the scalar normalizers (SURVEY §5 — the reference had no unit tests;
property testing is the upgrade).
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mongodb_etl_migration_spark.functions import scalars as S
from mongodb_etl_migration_spark.operators.skew import salted_count, salted_join

# ---------------------------------------------------------------- skew

def test_salted_join_equals_plain_join(spark):
    # skewed fact: 90% of rows on one key
    big = spark.range(0, 20_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7))
        .otherwise((F.col("id") % 50).cast("long"))
        .alias("k"),
        F.col("id").alias("payload"),
    )
    small = spark.range(0, 50).select(
        F.col("id").alias("k"), (F.col("id") * 100).alias("dim_val")
    )
    plain = big.join(small, "k").select("k", "payload", "dim_val")
    salted = salted_join(big, small, "k").select("k", "payload", "dim_val")
    assert salted.count() == plain.count()
    assert salted.exceptAll(plain).count() == 0
    assert plain.exceptAll(salted).count() == 0


def test_salt_assignment_stable_across_materializations(spark):
    """The salt must be a pure function of row CONTENT (never
    monotonically_increasing_id or any partition-layout artifact), so
    two independent materializations — including one with a different
    partition layout — assign every row the identical salt. This is
    what makes stage retries re-salt rows identically and per-reducer
    debugging reproducible."""
    from mongodb_etl_migration_spark.operators.skew import _stable_salt

    df = spark.range(0, 5_000).select(
        (F.col("id") % 37).alias("k"), F.col("id").alias("payload")
    )
    salted = df.withColumn("__salt", _stable_salt("k", ["payload"], df, 8))
    a = {(r["k"], r["payload"]): r["__salt"] for r in salted.collect()}
    relaid = df.repartition(3).withColumn(
        "__salt", _stable_salt("k", ["payload"], df, 8)
    )
    b = {(r["k"], r["payload"]): r["__salt"] for r in relaid.collect()}
    assert a == b
    # and the hot key's rows actually spread over the salt space
    assert len({s for (k, _), s in a.items() if k == 7}) == 8


def test_salted_count_equals_group_count(spark):
    df = spark.range(0, 30_000).select(
        F.when(F.col("id") % 5 != 0, F.lit(1)).otherwise(F.col("id") % 100).alias("k")
    )
    want = {r["k"]: r["cnt"] for r in df.groupBy("k").agg(F.count("*").alias("cnt")).collect()}
    got = {r["k"]: r["cnt"] for r in salted_count(df, "k").collect()}
    assert got == want


# ------------------------------------------------- scalar properties
# Drive the SAME Column expressions the engine uses, through a
# one-row DataFrame per batch of generated inputs (vectorized check).

def _apply(spark, col_expr, values):
    df = spark.createDataFrame([(v,) for v in values], "x string")
    return [r["y"] for r in df.select(col_expr.alias("y")).collect()]


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(min_size=0, max_size=40), min_size=1, max_size=20))
def test_phone_digits_property(spark, xs):
    out = _apply(spark, S.phone_digits(F.col("x")), xs)
    for inp, got in zip(xs, out):
        assert got is None or got == "".join(c for c in inp if c.isdigit() and c.isascii()) or got.isdigit()
        if got:
            assert got.isdigit()


@settings(max_examples=20, deadline=None)
@given(st.lists(st.text(min_size=1, max_size=30), min_size=1, max_size=20))
def test_dni_format_properties(spark, xs):
    out = _apply(spark, S.dni_format(F.col("x")), xs)
    out2 = _apply(spark, S.dni_format(S.dni_format(F.col("x"))), xs)
    for got, got2 in zip(out, out2):
        if got and len(got) >= 3 and "-" in got:
            # canonical form: letter-hyphen-alnum, first char in VEJGP
            assert got[0] in "VEJGP" and got[1] == "-"
        # idempotence on already-formatted values
        if got and got2 and got[0] in "VEJGP" and got[1:2] == "-":
            assert got2 == got


@settings(max_examples=20, deadline=None)
@given(st.lists(st.emails(), min_size=1, max_size=10))
def test_email_normalize_property(spark, xs):
    padded = [f"  {e.upper()} " for e in xs]
    out = _apply(spark, S.email_normalize(F.col("x")), padded)
    for e, got in zip(xs, out):
        assert got == e.lower()


# ------------------------------------------------- dedup recall property

def test_minhash_recovers_all_planted_exact_dups(spark, sf_dir):
    """Exact copies have identical shingle sets ⇒ identical signatures
    ⇒ identical band keys in EVERY band — LSH must recover 100% of the
    planted (doc_id, doc_id+1000000) pairs, regardless of banding."""
    from mongodb_etl_migration_spark.queries import QUERIES

    pairs = QUERIES["d2_minhash_lsh_pairs"](spark, sf_dir)
    planted = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter((F.col("doc_id") % 10 == 0))
        # docs with ≥3 tokens (shorter ones are dropped by design)
        .filter(F.size(F.split(F.lower("text"), "[^a-z0-9]+")) >= 3)
        .select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + 1000000).alias("id_b"),
        )
    )
    missing = planted.join(pairs, ["id_a", "id_b"], "left_anti")
    assert missing.count() == 0


# -------------------------------------------- approximate aggregates
# Sketch outputs differ engine-to-engine (Spark HLL++/KLL vs DuckDB),
# so these are tolerance-gated tests rather than hash-matched oracles.

def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    exact = li.select("l_partkey").distinct().count()
    approx = li.agg(
        F.approx_count_distinct("l_partkey", rsd=0.02).alias("a")
    ).head()["a"]
    assert abs(approx - exact) / exact < 0.05


def test_approx_quantiles_within_tolerance(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    qs = li.approxQuantile("l_extendedprice", [0.25, 0.5, 0.75], 0.01)
    import duckdb

    exact = duckdb.connect().execute(
        f"""SELECT quantile_cont(l_extendedprice, [0.25, 0.5, 0.75])
            FROM read_parquet('{sf_dir}/lineitem.parquet')"""
    ).fetchone()[0]
    for got, want in zip(qs, exact):
        assert abs(got - want) / want < 0.05


def test_aqe_splits_skewed_join(spark):
    """AQE's runtime skew-join handling (the session default for hot
    keys; operators/skew.py is the explicit fallback): a 90%-hot-key
    join gets its oversized partition split — visible as
    SortMergeJoin(skew=true) in the FINAL adaptive plan. NB the plan
    must be read from the SAME QueryExecution that ran (df.rdd
    executes the df's own QE; write()/count() plan fresh ones)."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(0, 300_000).select(
            F.when(F.col("id") % 10 != 0, F.lit(7))
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.concat(F.lit("x" * 200), F.col("id").cast("string")).alias("pay"),
        )
        other = spark.range(0, 1000).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )
        j = big.join(other, "k")
        n = j.rdd.count()
        assert n == big.count()  # 1:1 dim join preserves cardinality
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_incremental_neardup_matches_batch(spark, sf_dir, tmp_path):
    """neardup_probe(new, persisted band index(old)) == the old-new
    cross pairs of a full batch minhash_dedup_pairs over old ∪ new
    (same hash family + banding ⇒ identical candidate generation)."""
    from mongodb_etl_migration_spark.catalog import Catalog
    from mongodb_etl_migration_spark.operators.dedup import (
        lsh_bands,
        minhash_dedup_pairs,
        minhash_signatures_narrow,
        neardup_probe,
    )
    from mongodb_etl_migration_spark.operators.text import tokens as _tok

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 3 != 0)
    # new batch under fresh ids: planted exact dups of indexed docs
    # plus novel texts the index has never seen
    planted = old.filter(F.col("doc_id") % 5 == 0)
    novel = docs.filter(F.col("doc_id") % 3 == 0)
    new = planted.unionByName(novel).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )

    idx_path = str(tmp_path / "mh_index")
    sig = minhash_signatures_narrow(
        old.filter(F.size(_tok(F.col("text"))) >= 3), "doc_id", "text", 3, 16
    )
    lsh_bands(sig, "doc_id", 16, 4).write.parquet(idx_path)
    inc = neardup_probe(new, spark.read.parquet(idx_path), "doc_id", "text")

    batch = minhash_dedup_pairs(
        old.unionByName(new), "doc_id", "text"
    ).filter(  # keep only old-new cross pairs (id_b > 1M marks new)
        (F.col("id_b") >= 1_000_000) & (F.col("id_a") < 1_000_000)
    )
    want = batch.select(
        F.col("id_b").alias("id_new"), F.col("id_a").alias("id_indexed")
    )
    assert inc.count() == want.count() > 0
    assert inc.exceptAll(want).count() == 0 and want.exceptAll(inc).count() == 0
    # planted exact dups must all be recovered
    exact_hits = inc.filter(
        F.col("id_new") - F.lit(1_000_000) == F.col("id_indexed")
    ).count()
    # only docs with >=k tokens participate
    eligible = new.filter(F.size(_tok(F.col("text"))) >= 3).join(
        old, new["text"] == old["text"], "left_semi"
    ).count()
    assert exact_hits == eligible > 0


def test_connected_components_chain_and_representatives(spark):
    """A chain a-b, b-c, plus an isolated pair d-e: one component
    {1,2,3} labeled 1 and one {7,8} labeled 7 (min-id canonical);
    dedup_representatives keeps exactly min-id docs + unpaired docs."""
    from mongodb_etl_migration_spark.operators.dedup import (
        connected_components,
        dedup_representatives,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    comp = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in (1, 2, 3, 7, 8, 99)], "doc_id long, text string"
    )
    kept = sorted(
        r["doc_id"] for r in dedup_representatives(docs, pairs, "doc_id").collect()
    )
    assert kept == [1, 7, 99]


def _cc_reference(pairs: list[tuple[int, int]]) -> tuple[dict, int]:
    """Plain-Python connected components: (id -> min member id by
    union-find, the number of synchronous label-propagation rounds the
    same graph needs, counting the final no-change round)."""
    parent: dict = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    nbrs: dict = {}
    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    labels = {x: find(x) for x in parent}
    prop, rounds = {x: x for x in nbrs}, 0
    while True:
        rounds += 1
        new = {x: min([prop[x]] + [prop[y] for y in nbrs[x]]) for x in prop}
        if new == prop:
            break
        prop = new
    assert prop == labels
    return labels, rounds


def test_star_cc_matches_union_find_and_converges_faster_on_chains(spark):
    """Large-star/small-star must produce the union-find closure and
    converge in O(log n) rounds on a chain — the realistic
    transitive-near-dup worst case (label propagation needs
    O(diameter) rounds there)."""
    from mongodb_etl_migration_spark.operators.dedup import connected_components

    # a 16-node chain (ids shuffled so orientation isn't pre-sorted),
    # plus a separate triangle
    chain = [(i, i + 1) for i in range(1, 16)]
    chain = [(b, a) if a % 2 == 0 else (a, b) for a, b in chain]
    tri = [(100, 101), (101, 102), (100, 102)]
    pairs = spark.createDataFrame(chain + tri, "id_a long, id_b long")

    star_labels, star_rounds = connected_components(pairs, with_rounds=True)
    ref, prop_rounds = _cc_reference(chain + tri)
    star = {r["id"]: r["component"] for r in star_labels.collect()}
    assert star == ref
    assert star == {**{i: 1 for i in range(1, 17)}, 100: 100, 101: 100, 102: 100}
    assert star_rounds < prop_rounds, (star_rounds, prop_rounds)
    assert star_rounds <= 6  # O(log 16), not O(16)


def test_minhash_estimate_exact_dup_is_one(spark):
    """Planted exact duplicates must estimate Jaccard 1.0 (identical
    shingle sets ⇒ identical signatures), and disjoint docs 0.0."""
    from mongodb_etl_migration_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
            (3, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    sigs = D.minhash_signatures_narrow(docs, "doc_id", "text", k=3)
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    est = {
        (r.id_a, r.id_b): r.est_jaccard
        for r in D.minhash_jaccard_estimate(sigs, pairs, "doc_id").collect()
    }
    assert est[(1, 2)] == 1.0
    assert est[(1, 3)] == 0.0


def stable_round_sql(expr: str, digits: int) -> str:
    """The DuckDB twin of ``scalars.stable_round``: the identical
    floor(x·10^d + 0.5)/10^d formula, inline in SQL."""
    s = 10 ** digits
    return f"floor(({expr}) * {s} + 0.5) / {s} + 0.0"


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-1e6, max_value=1e6,
            allow_nan=False, allow_infinity=False,
        ),
        min_size=1, max_size=30,
    )
)
def test_stable_round_matches_duckdb_formula(spark, duck, xs):
    """stable_round must agree with its SQL twin bit-for-bit on
    arbitrary doubles — including repr-half values like 0.78575 where
    Spark's own round() and DuckDB's round() disagree."""
    from mongodb_etl_migration_spark.functions.scalars import stable_round

    df = spark.createDataFrame([(float(x),) for x in xs], "x double")
    got = [r["y"] for r in df.select(stable_round(F.col("x"), 4).alias("y")).collect()]
    # ::DOUBLE — a bare decimal literal parses as DECIMAL in DuckDB,
    # which is not the type the oracle formula targets
    vals = ", ".join(f"({float(x)!r}::DOUBLE)" for x in xs)
    want = [
        r[0]
        for r in duck.execute(
            f"SELECT {stable_round_sql('x', 4)} FROM (VALUES {vals}) t(x)"
        ).fetchall()
    ]
    assert got == want


def test_stable_round_known_boundary(spark, duck):
    """The sf0.1 regression value: 0.78575 (binary 0.78574999…) must
    round identically on both engines — Spark's plain round() gets
    this wrong (0.7858 vs DuckDB round's 0.7857)."""
    from mongodb_etl_migration_spark.functions.scalars import stable_round

    df = spark.createDataFrame([(0.78575,)], "x double")
    got = df.select(stable_round(F.col("x"), 4).alias("y")).head()["y"]
    want = duck.execute(
        f"SELECT {stable_round_sql('0.78575::DOUBLE', 4)}"
    ).fetchone()[0]
    assert got == want == 0.7857


def test_decontaminate_ngram_containment(spark, sf_dir):
    """Any shared 4-gram contains two shared 3-grams, so the doc set
    flagged at n=4 must be a subset of the set flagged at n=3 (recall
    grows monotonically as n shrinks — the knob's contract)."""
    from mongodb_etl_migration_spark.catalog import Catalog
    from mongodb_etl_migration_spark.operators.text import decontaminate

    d = Catalog(spark, sf_dir).documents
    eval_docs = d.filter(F.col("doc_id") % 97 == 0)
    train = d.filter(F.col("doc_id") % 97 != 0)
    f3 = decontaminate(train, eval_docs, "doc_id", "text", n=3).select("doc_id")
    f4 = decontaminate(train, eval_docs, "doc_id", "text", n=4).select("doc_id")
    assert f4.join(f3, "doc_id", "left_anti").count() == 0


def test_pack_shards_budget_invariants(spark, sf_dir):
    """Every shard id equals tokens_before // budget, shard ids are
    contiguous from 0 within each group, and each shard's preceding
    token count stays under budget + the straddling doc."""
    from mongodb_etl_migration_spark.catalog import Catalog
    from mongodb_etl_migration_spark.operators.text import pack_shards

    d = Catalog(spark, sf_dir).documents
    out = pack_shards(d, "doc_id", "source", "text", budget_tokens=100)
    rows = sorted(
        out.collect(), key=lambda r: (r["source"], r["doc_id"])
    )
    by_group: dict[str, list] = {}
    for r in rows:
        by_group.setdefault(r["source"], []).append(r)
    for g, rs in by_group.items():
        tb = 0
        for r in rs:
            assert r["shard"] == tb // 100, (g, r)
            tb += r["n_tokens"]
        shards = [r["shard"] for r in rs]
        assert shards[0] == 0 and shards == sorted(shards)


def test_weighted_mix_composes_with_resampling(spark, sf_dir):
    """A mix followed by an independent (different-salt) sample equals
    the intersection of the two gates — rates compose multiplicatively
    without correlation artifacts."""
    from mongodb_etl_migration_spark.catalog import Catalog
    from mongodb_etl_migration_spark.operators import sampling as SM

    d = Catalog(spark, sf_dir).documents
    mixed = SM.weighted_mix(d, "doc_id", "source", {"src0": 1.0, "src1": 0.6})
    both = SM.deterministic_sample(mixed, "doc_id", 0.5, salt="second")
    direct = SM.deterministic_sample(d, "doc_id", 0.5, salt="second").join(
        mixed.select("doc_id"), "doc_id"
    )
    assert both.select("doc_id").exceptAll(direct.select("doc_id")).count() == 0
    assert direct.select("doc_id").exceptAll(both.select("doc_id")).count() == 0


# ------------------------------------------------- fuzzy join property


def _levenshtein(a: str, b: str) -> int:
    """Edit distance by the textbook row-by-row DP."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@settings(max_examples=15, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abc", min_size=0, max_size=6),
        min_size=1,
        max_size=12,
        unique=True,
    )
)
def test_fuzzy_join_equals_bruteforce(spark, words):
    """Length-band blocking must be result-invisible: the blocked
    fuzzy join equals the unblocked all-pairs levenshtein filter on
    arbitrary inputs (small alphabet maximizes near-collisions)."""
    from mongodb_etl_migration_spark.operators.text import fuzzy_join

    left = spark.createDataFrame([(w,) for w in words], "a string")
    right = spark.createDataFrame([(w,) for w in words], "b string")
    blocked = {
        (r.a, r.b)
        for r in fuzzy_join(left, right, "a", "b", max_dist=1).collect()
    }
    brute = {(a, b) for a in words for b in words if _levenshtein(a, b) <= 1}
    assert blocked == brute


def test_salted_count_spreads_key_only_frames(spark):
    """A key-only projection has content-identical rows per key — the
    content salt would collapse to one reducer; the partition-id
    fallback must both spread the hot key and keep counts exact."""
    from mongodb_etl_migration_spark.operators.skew import (
        _stable_salt,
        salted_count,
    )

    hot = spark.range(0, 10_000, 1, 8).select(F.lit(1).alias("k"))
    out = {r.k: r.cnt for r in salted_count(hot, "k", salts=8).collect()}
    assert out == {1: 10_000}
    salts = (
        hot.select(_stable_salt("k", None, hot, 8).alias("s"))
        .distinct()
        .count()
    )
    assert salts > 1  # actually spread over reducers


def test_salted_count_guard_normalizes_key_duplicates(spark):
    """spread_cols=[key] is the same degeneracy as a key-only frame —
    the guard must normalize it to the partition-id fallback."""
    from mongodb_etl_migration_spark.operators.skew import (
        _stable_salt,
        salted_count,
    )

    hot = spark.range(0, 4000, 1, 8).select(F.lit(1).alias("k"))
    out = {r.k: r.cnt for r in salted_count(hot, "k", salts=8, spread_cols=["k"]).collect()}
    assert out == {1: 4000}
    n = hot.select(_stable_salt("k", ["k"], hot, 8).alias("s")).distinct().count()
    assert n > 1
