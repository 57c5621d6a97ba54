"""Deduplication operators for training-data pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup over a document
table — the standard large-corpus dedup ladder. All hashing is md5
(lowercase hex, identical in Spark and DuckDB) and all "min" choices
are lexicographic, so every stage is deterministic and oracle-checkable.

Scale design notes (100 TB):
- exact dedup: one shuffle on the content hash; map-side partial
  aggregation shrinks it to #distinct rows.
- MinHash: shingles and signatures are narrow per-row projections
  (no explode, no shuffle); LSH banding turns the O(n²)
  pair space into per-bucket self-joins — the only quadratic work is
  inside a bucket, and bucket sizes are bounded by collision rate, not
  corpus size. Hot buckets (boilerplate docs) are the skew risk → AQE
  skew-join handles the bucket self-join.
- SimHash: per-document signature via explode+sum — no pairwise work
  at signature time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mongodb_etl_migration_spark.functions.scalars import stable_round
from mongodb_etl_migration_spark.operators.text import (
    TOKEN_RE,
    cpu_fan_out,
    tokens,
)


# ------------------------------------------------------------- exact
def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Exact dedup via content hash: one representative (min id) per
    distinct content + duplicate count. groupBy = single shuffle with
    map-side combine."""
    return (
        df.select(
            F.col(id_col), F.md5(F.col(content_col)).alias("content_hash")
        )
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("representative_id"),
            F.count("*").alias("dup_count"),
        )
    )


# ---------------------------------------------------------- shingles
def _shingle_expr_sql(toks: str, k: int) -> str:
    """SQL fragment: distinct k-token shingles over a token-array
    fragment (indexed window-concat → array_distinct; shorter than k
    → empty array). Pure narrow array ops, no explode, no shuffle.
    Evaluate it over a MATERIALIZED token column: the fragment
    references ``toks`` k+2 times, and higher-order-function lambdas
    get no codegen CSE, so an inlined tokenizer would re-run per
    reference."""
    cells = ", ".join(f"element_at({toks}, (__si + {j}) + 1)" for j in range(k))
    return (
        f"case when size({toks}) >= {k} then "
        f"array_distinct(transform(sequence(0, size({toks}) - {k}), "
        f"__si -> concat_ws(' ', {cells}))) "
        f"else cast(array() as array<string>) end"
    )


def _shingle_base_hash_sql(inp: str) -> str:
    """SQL fragment: 60-bit md5-derived base hash of a shingle,
    reduced mod p (see the MinHash hash-family note)."""
    return (
        f"cast(conv(substring(md5({inp}), 1, 15), 16, 10) as bigint) "
        f"% {MINHASH_P}"
    )


def with_shingle_column(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, out: str = "_shingles"
) -> DataFrame:
    """(id_col, out=array<string> of distinct k-shingles) via two
    chained narrow projections: tokenize once per row into a real
    column, then build shingles over that attribute reference.
    CollapseProject keeps the projections separate because the token
    alias is non-cheap and referenced k+2 times — without this the
    regexp re-runs per element_at per downstream consumer (measured
    ~180× slowdown on the 16-hash MinHash stage)."""
    toked = df.select(F.col(id_col), tokens(text_col).alias("_toks"))
    return toked.select(
        F.col(id_col),
        F.expr(_shingle_expr_sql("`_toks`", k)).alias(out),
    )


def shingles(
    df: DataFrame, id_col: str, text_col: str, k: int = 3
) -> DataFrame:
    """Distinct k-token shingles per document as rows (id_col,
    shingle) — the exploded view of :func:`with_shingle_column`, used
    where a relational shape is needed (Jaccard joins).

    The token array is materialized through a GENERATE BARRIER —
    ``explode(array(tokens))`` yields exactly one row per input with
    the array computed inside its own Generate node. Without it,
    CollapseProject merges the token projection into the downstream
    shingle explode and inlines the tokenizer regexp at every
    element_at site (11 evaluations per row at k=3 — measured 22×
    wall slowdown at sf0.1); generators cannot be collapsed into
    generators, so the barrier pins the regexp to exactly one run."""
    toked = df.select(
        F.col(id_col),
        F.explode(F.array(tokens(text_col))).alias("_toks"),
    )
    return toked.select(
        F.col(id_col),
        F.explode(F.expr(_shingle_expr_sql("`_toks`", k))).alias("shingle"),
    )


# ----------------------------------------------------------- MinHash
#
# Hash family: one md5 per shingle reduced to a 60-bit int (15 hex
# digits — portable: Spark conv(hex,16,10) == DuckDB ('0x'||hex)::BIGINT)
# then mod p, then num_hashes affine mixes (a_i*h + b_i) mod p.
# ONE digest per shingle instead of num_hashes digests — Spark's md5
# expression allocates a MessageDigest per call and lambda bodies are
# interpreted (no codegen CSE), so digests dominate the signature
# stage; the affine mixes are three long ops each. a_i*h < 2^62 so
# 64-bit arithmetic never overflows (identical in DuckDB, which would
# raise on BIGINT overflow rather than wrap).
MINHASH_P = 2_147_483_647  # 2^31 - 1 (Mersenne prime)
_MIX = 2_654_435_761  # Knuth multiplicative constant (odd)


def affine_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) for the affine MinHash family — shared
    by the Spark expressions and the DuckDB oracle SQL."""
    return [
        (((2 * i + 1) * _MIX) % MINHASH_P, (i * 40_503 + 7) % MINHASH_P)
        for i in range(num_hashes)
    ]


def minhash_signatures_narrow(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, num_hashes: int = 16
) -> DataFrame:
    """Zero-shuffle MinHash: signatures computed per-row from the
    materialized shingle ARRAY via array_min(transform(...)) — no
    explode, no aggregation. The whole signature stage is a narrow
    projection that scales embarrassingly with input splits; the first
    shuffle in the dedup pipeline is the candidate-pair join itself.

    Docs with fewer than k tokens get all-NULL signatures (array_min
    over an empty array) — callers MUST drop them before LSH banding
    or every short doc lands in one degenerate bucket (quadratic skew
    bomb at corpus scale)."""
    base = with_shingle_column(df, id_col, text_col, k).select(
        F.col(id_col),
        F.expr(
            f"transform(`_shingles`, __sh -> {_shingle_base_hash_sql('__sh')})"
        ).alias("_h"),
    )

    def sig(i: int, a: int, b: int) -> Column:
        # one parse per seed: (a*h + b) % p folded over the base-hash
        # array
        return F.expr(
            f"array_min(transform(`_h`, "
            f"__mh -> (({a} * __mh) + {b}) % {MINHASH_P}))"
        ).alias(f"sig_{i}")

    return base.select(
        F.col(id_col),
        *[sig(i, a, b) for i, (a, b) in enumerate(affine_params(num_hashes))],
    )


def lsh_bands(
    sig_df: DataFrame, id_col: str, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Band the wide signature: band_key = md5('|'-join of the band's
    'seed=sig' entries, lexicographically sorted). Docs sharing any
    (band, band_key) are candidates. Output: (id_col, band, band_key).
    Pure narrow projection + a 2-row-per-band explode — no shuffle."""
    rows_per_band = num_hashes // bands
    band_structs = []
    for b in range(bands):
        entries = F.array(
            *[
                F.concat_ws("=", F.lit(str(i)), F.col(f"sig_{i}"))
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ]
        )
        band_structs.append(
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.concat_ws("|", F.array_sort(entries))).alias("band_key"),
            )
        )
    return sig_df.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("b")
    ).select(id_col, "b.band", "b.band_key")


def minhash_jaccard_estimate(
    sig_df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    num_hashes: int = 16,
) -> DataFrame:
    """Jaccard ESTIMATE from MinHash signatures: the fraction of
    signature components on which a pair agrees is an unbiased
    estimator of the true Jaccard (the MinHash property). This is the
    cheap verify stage between LSH candidates and the exact
    shingle-join (``ngram_jaccard``): it touches only 2×num_hashes
    longs per pair — no shingle sets — so at scale it prunes the
    candidate list before the expensive exact join.

    ``sig_df`` is the wide signature frame (id, sig_0..sig_{n-1});
    output (id_a, id_b, est_jaccard)."""
    a = sig_df.select(
        F.col(id_col).alias("id_a"),
        *[F.col(f"sig_{i}").alias(f"_a{i}") for i in range(num_hashes)],
    )
    b = sig_df.select(
        F.col(id_col).alias("id_b"),
        *[F.col(f"sig_{i}").alias(f"_b{i}") for i in range(num_hashes)],
    )
    matches = sum(
        F.when(F.col(f"_a{i}") == F.col(f"_b{i}"), 1).otherwise(0)
        for i in range(num_hashes)
    )
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            (matches.cast("double") / num_hashes).alias("est_jaccard"),
        )
    )


def lsh_candidate_pairs(band_df: DataFrame, id_col: str) -> DataFrame:
    """Self-join within buckets → distinct candidate pairs (a<b).
    The join key (band, band_key) keeps the quadratic work inside
    buckets; AQE splits skewed buckets.

    The explicit repartition on the join keys is the self-join
    dedup trick: renaming the id column BEFORE the join gives the
    two sides different plans, so each side would recompute the
    whole upstream signature pipeline (2× the md5 CPU over the
    corpus). Shuffling FIRST and renaming above the exchange makes
    both sides' exchanges identical — ReuseExchange computes the
    signatures once and the join reads the same map output twice.

    The lazy localCheckpoint UNDER the repartition exists because
    exchange reuse alone is broadcast-fragile: when the banded
    frame's size estimate falls under the broadcast threshold the
    planner rewrites the join to BroadcastHashJoin, whose build side
    is a BroadcastExchange that CANNOT reuse the probe side's
    hash-partitioned exchange — the r14 runtime plan check showed
    ReusedExchange: 0 and the full tokenize+shingle+md5+16-hash
    pipeline duplicated into both sides (2× the corpus CPU). The
    checkpoint pins single computation regardless of join strategy:
    both sides scan the same persisted (id, band, band_key) RDD —
    narrow metadata, the guide §8 lightweight-proxy shape, so
    materializing it is cheap at any scale."""
    shuffled = band_df.localCheckpoint(eager=False).repartition(
        F.col("band"), F.col("band_key")
    )
    left = shuffled.select(
        F.col("band"), F.col("band_key"), F.col(id_col).alias("id_a")
    )
    right = shuffled.select(
        F.col("band"), F.col("band_key"), F.col(id_col).alias("id_b")
    )
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    fan_out: bool | None = None,
) -> DataFrame:
    """End-to-end MinHash-LSH candidate pairs. Signature + banding are
    narrow projections (zero shuffle); the only shuffle is the
    per-bucket self-join. Shingle-less docs (< k tokens) are dropped
    before banding — they carry NULL signatures that would otherwise
    collapse into one degenerate all-shorts bucket.

    The short-doc filter runs on token COUNT before the signature
    stage: filtering on ``sig_0 IS NOT NULL`` downstream looks
    equivalent, but predicate pushdown alias-substitutes the whole
    tokenize→shingle→hash→array_min tree into the Filter (and into
    every union branch) — measured ~15× blowup. A cheap upstream
    predicate keeps the expensive trees evaluated exactly once.

    The signature stage is CPU-bound (one md5 + num_hashes affine
    mixes per shingle, in interpreted lambda eval) — md5-per-shingle
    costs far more CPU per input byte than the scan, so when the
    source has fewer file splits than cores, the fan-out shuffle pays
    for itself even on a 10 MB corpus (measured at sf0.1: ~1.7 s with
    fan-out vs ~3.6 s without, 32 cores / 1 file). On a real corpus
    (many splits) the condition is false and no shuffle is added.
    ``fan_out`` pins the gate explicitly (True/False) for
    host-independent plan receipts; None keeps the heuristic — see
    text.cpu_fan_out."""
    df = df.filter(F.size(tokens(F.col(text_col))) >= k)
    df = cpu_fan_out(df, fan_out)
    sig = minhash_signatures_narrow(df, id_col, text_col, k, num_hashes)
    band = lsh_bands(sig, id_col, num_hashes, bands)
    return lsh_candidate_pairs(band, id_col)



def neardup_probe(
    new_df: DataFrame,
    index_band: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Candidate near-dup pairs between a NEW batch and an existing
    band index (band, band_key, id): only the new rows are
    shingled/hashed; candidates come from an equi-join on
    (band, band_key). At scale the join shuffles ~|new batch| band
    rows plus matching index buckets (AQE splits hot buckets) — never
    the historical corpus. Output: (id_new, id_indexed) distinct
    pairs."""
    new_df = new_df.filter(F.size(tokens(F.col(text_col))) >= k)
    sig = minhash_signatures_narrow(new_df, id_col, text_col, k, num_hashes)
    band = lsh_bands(sig, id_col, num_hashes, bands)
    return (
        band.select("band", "band_key", F.col(id_col).alias("id_new"))
        .join(
            index_band.select(
                "band", "band_key", F.col(id_col).alias("id_indexed")
            ),
            ["band", "band_key"],
        )
        .filter(F.col("id_new") != F.col("id_indexed"))
        .select("id_new", "id_indexed")
        .distinct()
    )


# ------------------------------------------------- Dedup clusters
def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
    with_rounds: bool = False,
) -> DataFrame:
    """Connected components over the near-dup pair graph → one
    ``component`` label (the minimum member id) per document. This is
    the step after LSH that production dedup needs: pairs say "these
    two match"; clusters say "keep ONE of these five".

    Alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): O(log n) rounds
    even on chain/skew-shaped clusters, the realistic worst case at
    100 TB (transitive near-dup chains), where label propagation
    needs O(component diameter) rounds. Each round restructures the
    edge set toward stars centered on the component minimum and
    localCheckpoints it: iterative plans otherwise double in depth
    each round and re-execute from the source.

    Output: (id, component) for every id in ``pairs``; with
    ``with_rounds`` returns (labels_df, rounds_used).
    """
    # Materialize the (id_a, id_b) projection ONCE before the node set
    # and the edge set are derived from it: both derivations are
    # separate actions, and an un-materialized pairs frame re-executes
    # its whole upstream plan (for the media near-dup chains that plan
    # is the decode + banded self-join — measured as the duplicated
    # MapInPandas subtree in the r14 before-plans) once per
    # derivation. Lazy checkpoint: the first action computes it, every
    # later action reads the persisted RDD.
    pairs = pairs.select(id_a, id_b).localCheckpoint(eager=False)
    labels, rounds = _cc_star(pairs, id_a, id_b, max_iterations)
    return (labels, rounds) if with_rounds else labels


def _cc_star(
    pairs: DataFrame, id_a: str, id_b: str, max_iterations: int
) -> tuple[DataFrame, int]:
    """Large-star/small-star alternation. Edges are kept oriented
    (bigger, smaller); both star steps preserve that orientation, so
    the symmetric view is a cheap union with no dedup. At the fixpoint
    the edge set is exactly the star forest (node → component min).

    Self-pairs (u == v) carry no connectivity and are dropped from the
    edge set, but their ids still get a singleton (id, id) label row
    at the end: every id in ``pairs`` appears in the output."""
    # ids is consumed exactly once (the singleton anti-join at the
    # end) and reads the already-checkpointed pairs — no checkpoint
    # of its own, its job folds into the final labels action.
    ids = (
        pairs.select(F.col(id_a).alias("id"))
        .unionByName(pairs.select(F.col(id_b).alias("id")))
        .distinct()
    )
    # Lazy checkpoint + count = ONE job that both materializes the
    # persisted RDD and returns the convergence cardinality (an eager
    # checkpoint followed by count would schedule two); every round
    # below plays the same trick on new_e. On loop-shaped operators
    # the per-job latency floor, not shuffle bytes, is the wall-clock
    # cost at bench scale — guide §1.2 step 1 applied to actions.
    e = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    rounds = 0
    n_e = e.count()  # materializes the lazy checkpoint
    for _ in range(max_iterations):
        rounds += 1
        # large-star: every neighbor v > u links to m = min(Γ(u) ∪ u).
        # ONE explicit repartition on the grouping/join key feeds BOTH
        # the min-aggregate and the join probe side, so the planner
        # emits a single Exchange plus a ReusedExchange (the
        # image_neardup_pairs / lsh_candidate_pairs trick) instead of
        # shuffling sym twice; the aggregate and the co-partitioned
        # join add no further corpus-sized exchange. groupBy (partial
        # aggregation, AQE skew-join) is kept over a window-by-u
        # rewrite deliberately: star rounds CREATE hub nodes, and a
        # window would funnel a whole component into one task.
        sym = e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).repartition(F.col("u"))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least(F.col("u"), F.col("mv")).alias("m"))
        )
        # No .distinct() here: duplicate (u, m) rows cannot change the
        # small-star minima below, and new_e's own distinct is the set
        # boundary the convergence check reads — dropping it removes a
        # candidate-sized exchange per round (guide §2.4).
        large = (
            sym.filter(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .repartition(F.col("u"))
        )
        # small-star: all smaller neighbors (and u) link to their min
        # (same shared-exchange shape as the large-star step above)
        mins2 = large.groupBy("u").agg(F.min("v").alias("m"))
        new_e = (
            large.join(mins2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins2.select(F.col("u"), F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # Convergence = set equality of two DISTINCT edge sets, so
        # |new_e| == |e| AND new_e \ e == ∅ suffices — the count is
        # the round's ONE materializing job (it computes the lazy
        # checkpoint above) and short-circuits the subtraction on
        # every round where the edge count still moves; the r13 form
        # paid exceptAll BOTH ways plus a union every round (two
        # extra shuffles per round of pure convergence bookkeeping —
        # guide §2.4, remove shuffles outright). Same exceptAll
        # NULL/dup semantics on the one subtraction that remains, so
        # the fixpoint is unchanged.
        n_new = new_e.count()
        converged = n_new == n_e and new_e.exceptAll(e).isEmpty()
        e, n_e = new_e, n_new
        if converged:
            break
    labels = (
        e.select(F.col("u").alias("id"), F.col("v").alias("component"))
        .unionByName(
            e.select(F.col("v").alias("id"), F.col("v").alias("component"))
        )
        .distinct()
    )
    singletons = ids.join(
        labels.select("id"), "id", "left_anti"
    ).select(F.col("id"), F.col("id").alias("component"))
    return labels.unionByName(singletons), rounds


def dedup_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Collapse near-dup clusters to one representative row each: the
    minimum id of every component survives; unpaired docs survive
    untouched (singleton components). A left-anti join of df against
    the non-representative member set — no row of df is shuffled
    beyond the anti join."""
    comp = connected_components(pairs)
    losers = comp.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, id_col, "left_anti")


def dedup_best_representatives(
    df: DataFrame, pairs: DataFrame, id_col: str, score_col: str
) -> DataFrame:
    """Quality-ranked survivor per near-dup cluster: within each
    component the row with the HIGHEST ``score_col`` survives (ties:
    smaller id) — curation keeps the best copy, not the first-seen
    one. Unpaired docs survive untouched.

    Same shuffle discipline as :func:`dedup_representatives`: ranking
    runs only over component MEMBERS (a duplicate-sized set), and the
    corpus itself moves only through the final anti join. No forced
    broadcast — the member set is proportional to the duplicate
    fraction, which at 100 TB can exceed broadcast limits; AQE picks
    the join strategy from the actual size."""
    comp = connected_components(pairs).withColumnRenamed("id", id_col)
    members = df.select(id_col, score_col).join(comp, id_col)
    w = Window.partitionBy("component").orderBy(
        F.desc(score_col), F.col(id_col)
    )
    losers = (
        members.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") > 1)
        .select(id_col)
    )
    return df.join(losers, id_col, "left_anti")


# ----------------------------------------------------------- SimHash
def ngram_containment(
    shingle_df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Overlap (containment) coefficient over k-gram sets for given
    candidate pairs: |A∩B| / min(|A|,|B|) — 1.0 when either side's
    grams are a subset of the other's. This is the quote/excerpt
    detector Jaccard misses: a 30-token snippet inside a 300-token
    original scores containment 1.0 but Jaccard ~0.1, so a
    Jaccard-thresholded dedup pass keeps both copies of the text.
    Same join shape (and scale behavior: candidate-pair-bounded) as
    :func:`ngram_jaccard`. Output: (id_a, id_b, containment)."""
    sizes = shingle_df.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = shingle_df.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingle_df.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            stable_round(
                F.col("inter") / F.least(F.col("sz_a"), F.col("sz_b")), 4
            ).alias("containment"),
        )
    )


def simhash_signature(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """SimHash over word features: bit d of the signature is the sign of
    Σ_tokens (msb of hex digit d of md5(token) ? +1 : −1). ``bits`` ≤ 32
    (one per md5 hex digit). Output: (id_col, simhash string of 0/1).

    Computed as a per-row fold over a MATERIALIZED array of token
    hashes — narrow projections, zero shuffle (the naive
    explode+groupBy form shuffles every token of the corpus; inlining
    the tokenizer into all ``bits`` folds re-runs the regexp per fold,
    since lambdas sit outside codegen CSE)."""
    hashed = df.select(
        F.col(id_col),
        F.transform(tokens(text_col), lambda t: F.md5(t)).alias("_th"),
    )

    def bit(d: int) -> Column:
        def step(acc: Column, h: Column) -> Column:
            msb = F.substring(h, d + 1, 1).isin(
                "8", "9", "a", "b", "c", "d", "e", "f"
            )
            return acc + F.when(msb, 1).otherwise(-1)

        total = F.aggregate(F.col("_th"), F.lit(0), step)
        return F.when(total > 0, F.lit("1")).otherwise(F.lit("0"))

    return hashed.select(
        F.col(id_col),
        F.concat(*[bit(d) for d in range(bits)]).alias("simhash"),
    )


# ----------------------------------------------------- n-gram Jaccard
def ngram_jaccard(
    shingle_df: DataFrame, pairs: DataFrame, id_col: str
) -> DataFrame:
    """Exact Jaccard over k-gram sets for given candidate pairs —
    the verify stage after LSH. |A∩B| via join on shingle, |A∪B| =
    |A|+|B|−|A∩B|. Output: (id_a, id_b, jaccard)."""
    sizes = shingle_df.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = shingle_df.select(F.col(id_col).alias("id_a"), "shingle")
    b = shingle_df.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            stable_round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                4,
            ).alias("jaccard"),
        )
    )
