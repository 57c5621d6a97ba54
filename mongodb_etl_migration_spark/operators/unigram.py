"""Unigram-LM (SentencePiece-family) tokenizer: trainer + Viterbi
encoder — the OTHER production tokenizer family next to BPE
(Kudo 2018, "Subword Regularization"; the T5/ALBERT-class trainer).

The engine's trainer discipline (text.py's BPE family) applied to
unigram: a pure-Python reference twin every distributed path is
trajectory-pinned against, integer-exact arithmetic end to end, and
an unrolled/recursive SQL oracle for the catalog rows.

Deterministic spec (hard-EM / Viterbi-EM variant, documented — full
SentencePiece uses lattice soft-EM; the hard-EM E-step is its
standard deterministic approximation and keeps every quantity an
integer):

* words   — ``tokens()`` words of length ≤ ``max_word_len``; the ONLY
  corpus-sized stage is the (word, count) aggregate, exactly like
  ``bpe_train``.
* seed    — every substring of the distinct words with length ≤
  ``max_piece_len``, counted weighted by word frequency (overlapping
  occurrences count); vocabulary = ALL single chars (coverage is a
  unigram invariant — every word must stay segmentable) plus the top
  ``seed_size − #chars`` multi-char pieces with count ≥
  ``seed_min_count``, ranked (count DESC, piece ASC).
* rounds  — ``rounds`` hard-EM iterations. E-step: Viterbi-segment
  every distinct word under the current piece costs; usage(p) =
  Σ_w wc(w) · occurrences of p in w's best segmentation. M-step +
  prune: keep all single chars (usage floored at 1 so their costs
  stay defined) plus the top ``keep_t − #chars`` multi-char pieces
  with usage ≥ 1, where ``keep_t = max(V, S − ((S − V)·t)//R)`` — a
  LINEAR shrink schedule (SentencePiece's geometric 0.75 needs float
  pow; linear keeps the trajectory integer-exact).
* costs   — cost(p) = :func:`ilog2_q16` (total, count): a fixed-point
  −log₂ probability computed by PURE INTEGER squaring (the tfidf
  "rational idf" no-libm device applied to logs), so Python, Spark
  and DuckDB produce bit-identical cost tables with no libm in any
  engine. Base-2 instead of natural log is free: Viterbi only
  compares sums.
* Viterbi — minimize (Σ cost, #pieces, then at every DP position the
  smallest predecessor index j, i.e. the longest last piece).
  Globally this selects the segmentation minimizing
  (cost, #pieces, reversed-boundary-sequence lexicographic) — the
  characterization the SQL oracle sorts by.

Scale: corpus → words is one exchange; seeding and every EM round
run on the DISTINCT-WORDS frame (segmentation = zero-shuffle narrow
fold, usage = one vocabulary-keyed exchange); the driver holds only
vocabulary-sized count tables (bounded by ``seed_size``, refused
above ``driver_vocab_max`` — the bpe_train cap rule). Encoding is a
zero-shuffle per-row fold over a literal cost/id map (the
lang_id_hashed pattern) with an Arrow twin for production-scale
vocabularies.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import tokens

# infeasible-path sentinel: real path costs are ≤ ~16 pieces ×
# log2(total)·2^16 ≈ 2^27, so 2^40 can never be reached by a feasible
# segmentation and sums of a few INFs stay far under int64
_INF = 1 << 40

#: refuse-loudly bound on driver-resident vocabulary tables — the
#: bpe_train driver_vocab_max rule
DRIVER_VOCAB_MAX = 4_000_000

#: mode="auto" switches the trainer's E-step from the Column fold to
#: the Arrow twin above this many pieces: Catalyst literal-map
#: element_at is a linear scan, so DP lookups cost O(|vocab|) on the
#: Column path (BENCH_unigram.json measures the crossover)
COLUMN_VOCAB_MAX = 2048


# --------------------------------------------------------------- core
def ilog2_q16(total: int, count: int) -> int:
    """floor-quantized log₂(total/count) in Q16 fixed point, computed
    with PURE INTEGER arithmetic (no libm anywhere): normalize the
    ratio to a 62-fractional-bit mantissa X ∈ [2^62, 2^63), then 16
    squaring rounds each extracting one fractional bit. The recurrence
    IS the cost function's definition — Python (this), the Spark
    trainer (driver-side via this), and the DuckDB oracle (recursive
    CTE over HUGEINTs) evaluate the identical integer steps, so cost
    tables match bit for bit across engines. Within 2 ulp of
    floor(log₂(total/count)·65536); exact on powers of two."""
    if not 1 <= count <= total:
        raise ValueError(f"need 1 <= count <= total, got {count}/{total}")
    e0 = total.bit_length() - count.bit_length()
    e = e0 if total >= count << e0 else e0 - 1
    x = (total << (62 - e)) // count  # in [2^62, 2^63)
    frac = 0
    for _ in range(16):
        x = (x * x) >> 62
        if x >= 1 << 63:
            x >>= 1
            frac = frac * 2 + 1
        else:
            frac = frac * 2
    return e * 65536 + frac


def viterbi_segment_reference(
    word: str, costs: dict[str, int], max_piece_len: int
) -> list[str] | None:
    """Plain-Python Viterbi under the spec's tie-break — the ground
    truth the Spark fold is property-tested against, and the Arrow
    E-step's segmenter. Returns the best segmentation or None when the
    word cannot be covered by the vocabulary."""
    n = len(word)
    best: list[tuple[int, int, int]] = [(0, 0, -1)]  # (cost, np, back)
    for i in range(1, n + 1):
        cands = []
        for k in range(1, min(max_piece_len, i) + 1):
            j = i - k
            c = costs.get(word[j:i])
            pc = c if c is not None else _INF
            cands.append((best[j][0] + pc, best[j][1] + 1, j))
        cands.sort()
        best.append(cands[0])
    if best[n][0] >= _INF:
        return None
    out: list[str] = []
    pos = n
    while pos > 0:
        j = best[pos][2]
        out.append(word[j:pos])
        pos = j
    return out[::-1]


# ------------------------------------------------------- Spark Viterbi
def _cost_map(costs: list[tuple[str, int]]) -> Column:
    return F.create_map(
        *[
            x
            for p, c in costs
            for x in (F.lit(p), F.lit(int(c)).cast("long"))
        ]
    )


def _viterbi_state(word: Column, cost_map: Column, max_piece_len: int) -> Column:
    """The DP fold as ONE aggregate expression: per position i the
    candidate predecessors are the ≤ ``max_piece_len`` piece lengths;
    array_min over (cost, np, j) structs IS the spec's lexicographic
    tie-break (struct comparison is field-ordered). Returns
    struct(costs, nps, backs) arrays — callers extract from the ONE
    materialized struct so the fold is never duplicated (lambdas sit
    outside codegen CSE)."""
    zero = F.struct(
        F.array(F.lit(0).cast("long")).alias("costs"),
        F.array(F.lit(0).cast("int")).alias("nps"),
        F.array(F.lit(-1).cast("int")).alias("backs"),
    )

    def step(acc: Column, i: Column) -> Column:
        cands = F.transform(
            F.sequence(F.lit(1), F.least(F.lit(max_piece_len), i)),
            lambda k: F.struct(
                (
                    F.element_at(acc["costs"], (i - k + 1).cast("int"))
                    + F.coalesce(
                        F.element_at(
                            cost_map, word.substr(i - k + 1, k)
                        ),
                        F.lit(_INF).cast("long"),
                    )
                ).alias("c"),
                (
                    F.element_at(acc["nps"], (i - k + 1).cast("int")) + 1
                ).alias("np"),
                (i - k).cast("int").alias("j"),
            ),
        )
        best = F.array_min(cands)
        return F.struct(
            F.concat(acc["costs"], F.array(best["c"])).alias("costs"),
            F.concat(acc["nps"], F.array(best["np"].cast("int"))).alias(
                "nps"
            ),
            F.concat(acc["backs"], F.array(best["j"])).alias("backs"),
        )

    return F.aggregate(F.sequence(F.lit(1), F.length(word)), zero, step)


def _viterbi_pieces(word: Column, state: Column) -> Column:
    """Backtrack fold: walk backs from position n to 0, PREPENDING
    each piece — n iterations always suffice (every step consumes ≥ 1
    char). NULL when the word is not coverable (cost ≥ _INF), the
    honest-OOV contract."""
    n = F.length(word)
    start = F.struct(
        n.cast("int").alias("pos"),
        F.array().cast("array<string>").alias("ps"),
    )

    def step(acc: Column, _i: Column) -> Column:
        j = F.element_at(state["backs"], acc["pos"] + 1)
        piece = word.substr(j + 1, acc["pos"] - j)
        return F.when(
            acc["pos"] > 0,
            F.struct(
                j.alias("pos"),
                F.concat(F.array(piece), acc["ps"]).alias("ps"),
            ),
        ).otherwise(acc)

    walked = F.aggregate(F.sequence(F.lit(1), F.greatest(n, F.lit(1))), start, step)
    feasible = F.element_at(state["costs"], (n + 1).cast("int")) < F.lit(
        _INF
    )
    return F.when(feasible, walked["ps"])


def unigram_token_ids(
    text: Column | str,
    vocab: list[tuple[str, int, int]],
    max_piece_len: int = 4,
) -> Column:
    """Viterbi ENCODE of a text column under a trained vocabulary
    ((piece, count, cost_q16) rank list, id = index — i.e.
    :func:`unigram_train` output): tokenize, per-word DP, piece → id.
    A word the vocabulary cannot cover contributes ONE NULL element
    (the gpt2_token_ids honest-OOV rule: counts reflect the miss, the
    NULL-guard pattern catches it downstream). Zero shuffle — the
    vocabulary rides the plan as literal maps."""
    t = F.col(text) if isinstance(text, str) else text
    cm = _cost_map([(p, cost) for p, _c, cost in vocab])
    im = F.create_map(
        *[
            x
            for i, (p, _c, _cost) in enumerate(vocab)
            for x in (F.lit(p), F.lit(i).cast("int"))
        ]
    )
    words = tokens(t)
    staged = F.transform(
        words,
        lambda w: F.struct(
            w.alias("w"),
            _viterbi_state(w, cm, max_piece_len).alias("st"),
        ),
    )
    per_word = F.transform(
        staged,
        lambda x: F.coalesce(
            F.transform(
                _viterbi_pieces(x["w"], x["st"]),
                lambda p: F.element_at(im, p),
            ),
            F.array(F.lit(None).cast("int")),
        ),
    )
    return F.flatten(per_word)


def _segment_words_arrow(
    words: DataFrame, costs: dict[str, int], max_piece_len: int
) -> DataFrame:
    """Arrow E-step twin of the Column Viterbi fold for production
    vocabularies: the SAME spec DP (viterbi_segment_reference) over
    the distinct-words frame, costs shipped once per executor as an
    O(1) Python dict. Emits one
    (n, piece) row per placed piece — the identical explode shape the
    Column path feeds the usage aggregate. Training words are always
    coverable (single chars stay in the vocabulary), asserted rather
    than silently dropped."""
    import pandas as pd

    L = max_piece_len

    def run(batches):
        for pdf in batches:
            ns: list[int] = []
            pieces: list[str] = []
            for word, n in zip(pdf["word"], pdf["n"]):
                segs = viterbi_segment_reference(word, costs, L)
                assert segs is not None, (
                    f"training word {word!r} not coverable — the "
                    "single-char floor should make this impossible"
                )
                for p in segs:
                    ns.append(int(n))
                    pieces.append(p)
            yield pd.DataFrame({"n": ns, "piece": pieces})

    return words.select("word", "n").mapInPandas(
        run, "n long, piece string"
    )


# ------------------------------------------------------------ trainer
def unigram_train(
    df: DataFrame,
    text_col: str,
    vocab_size: int,
    seed_size: int,
    max_piece_len: int = 4,
    rounds: int = 3,
    seed_min_count: int = 2,
    max_word_len: int = 16,
    stats: dict | None = None,
    mode: str = "auto",
) -> list[tuple[str, int, int]]:
    """Distributed unigram-LM trainer (module spec; trajectory-equal
    to a plain-Python run of the spec, oracle-checked end to end by
    the t_unigram_train catalog row).

    Plan shape per stage — the bpe_train discipline:

    * corpus → (word, count): ONE corpus-sized exchange, then the
      distinct-words frame is localCheckpointed — every later stage
      reuses it without re-reading text.
    * seed counts: substring explode over the words frame (narrow
      position/length transform), one vocabulary-keyed exchange.
    * each EM round: Viterbi segmentation as a zero-shuffle fold over
      the words frame (costs ride as a literal map), piece-usage
      explode + one vocabulary-keyed exchange, then a BOUNDED collect
      (≤ current vocabulary ≤ ``seed_size``; refused above
      DRIVER_VOCAB_MAX) — pruning and cost derivation are driver-side
      integer arithmetic on that vocabulary-sized list.

    At 100 TB the corpus is touched once; rounds scale with DISTINCT
    words (‖words‖ ≪ corpus) exactly like the BPE trainer's
    vocabulary-resident rounds.

    ``stats`` (optional dict, the bpe_train convention) receives the
    receipt quantities: distinct_words, alphabet, seed_candidates,
    and per-round (vocab_in, usage_pieces, keep, sec) — what
    BENCH_unigram.json records.

    ``mode`` picks the E-step engine (the gpt2 Column-vs-Arrow twin
    rule applied to training): ``"column"`` folds costs into the plan
    as a literal map — zero UDF, the oracle-pinned path — but
    Catalyst's literal-map ``element_at`` is a LINEAR scan, so a
    16k-piece vocabulary costs ~O(|vocab|) per DP lookup (measured
    ~200 s/round on 40k words, BENCH_unigram.json). ``"arrow"`` runs
    the SAME spec DP (viterbi_segment_reference) in a mapInPandas
    stage with the costs as an O(1) Python dict — trajectory-
    identical by construction and by test. ``"auto"`` (default) takes
    arrow above :data:`COLUMN_VOCAB_MAX` pieces."""
    if seed_size > DRIVER_VOCAB_MAX:
        raise ValueError(
            f"seed_size={seed_size} exceeds DRIVER_VOCAB_MAX="
            f"{DRIVER_VOCAB_MAX}: the trainer holds vocabulary-sized "
            "count tables on the driver"
        )
    if vocab_size > seed_size:
        raise ValueError("vocab_size must be <= seed_size")
    words = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .filter(F.length("word") <= max_word_len)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n"))
        .localCheckpoint(eager=False)
    )

    # seed substring counts: one narrow explode + one exchange
    subs = (
        words.select(
            "n",
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(1), F.length("word")),
                        lambda i: F.transform(
                            F.sequence(
                                F.lit(1),
                                F.least(
                                    F.lit(max_piece_len),
                                    F.length("word") - i + 1,
                                ),
                            ),
                            lambda k: F.col("word").substr(i, k),
                        ),
                    )
                )
            ).alias("piece"),
        )
        .groupBy("piece")
        .agg(F.sum("n").cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    chars = sorted(
        r["piece"]
        for r in subs.filter(F.length("piece") == 1).collect()
    )  # bounded: the alphabet
    char_counts = {
        r["piece"]: int(r["c"])
        for r in subs.filter(F.length("piece") == 1).collect()
    }
    top_multi = (
        subs.filter(
            (F.length("piece") > 1) & (F.col("c") >= seed_min_count)
        )
        .orderBy(F.desc("c"), "piece")
        .limit(max(seed_size - len(chars), 0))
        .collect()
    )  # bounded: ≤ seed_size
    counts: dict[str, int] = {ch: char_counts[ch] for ch in chars}
    counts.update({r["piece"]: int(r["c"]) for r in top_multi})
    if stats is not None:
        stats["distinct_words"] = words.count()
        stats["alphabet"] = len(chars)
        stats["seed_candidates"] = subs.count()
        stats["seed_vocab"] = len(counts)
        stats["rounds"] = []

    if mode not in ("auto", "column", "arrow"):
        raise ValueError(f"unknown mode {mode!r}")

    for t in range(1, rounds + 1):
        import time as _time

        _t0 = _time.time()
        total = sum(counts.values())
        costs = {p: ilog2_q16(total, c) for p, c in counts.items()}
        use_arrow = mode == "arrow" or (
            mode == "auto" and len(costs) > COLUMN_VOCAB_MAX
        )
        if use_arrow:
            seg = _segment_words_arrow(words, costs, max_piece_len)
        else:
            cm = _cost_map(list(costs.items()))
            st = words.select(
                "word",
                "n",
                _viterbi_state(
                    F.col("word"), cm, max_piece_len
                ).alias("_st"),
            )
            seg = st.select(
                "n",
                F.explode(
                    _viterbi_pieces(F.col("word"), F.col("_st"))
                ).alias("piece"),
            )
        usage = {
            r["piece"]: int(r["u"])
            for r in seg.groupBy("piece")
            .agg(F.sum("n").cast("long").alias("u"))
            .collect()
        }  # bounded: ≤ current vocabulary
        keep = max(
            vocab_size,
            seed_size - ((seed_size - vocab_size) * t) // rounds,
        )
        kept_multi = sorted(
            (
                (p, c)
                for p, c in usage.items()
                if len(p) > 1 and c >= 1
            ),
            key=lambda kv: (-kv[1], kv[0]),
        )[: max(keep - len(chars), 0)]
        vocab_in = len(counts)
        counts = {ch: max(usage.get(ch, 0), 1) for ch in chars}
        counts.update(dict(kept_multi))
        if stats is not None:
            stats["rounds"].append(
                {
                    "vocab_in": vocab_in,
                    "usage_pieces": len(usage),
                    "keep": keep,
                    "vocab_out": len(counts),
                    "sec": round(_time.time() - _t0, 3),
                }
            )

    total = sum(counts.values())
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [(p, c, ilog2_q16(total, c)) for p, c in ranked]
