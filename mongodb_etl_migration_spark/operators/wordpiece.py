"""WordPiece tokenizer: likelihood-greedy trainer + greedy
longest-match encoder — the THIRD production tokenizer family next to
BPE (text.py) and unigram-LM (unigram.py); the BERT/DistilBERT-class
trainer (Schuster & Nakajima 2012; the merge-based formulation is the
one HuggingFace tokenizers ships).

The engine's trainer discipline applied once more: a pure-Python
reference twin every path is trajectory-pinned against, integer-exact
arithmetic end to end, an unrolled SQL oracle for the catalog rows,
and a Column literal-map encoder.

Deterministic spec (documented here, mirrored bit-for-bit by the
DuckDB oracle in queries.py):

* words   — ``tokens()`` words; the ONLY corpus-sized stage is the
  (word, count) aggregate, exactly like ``bpe_train``.
* symbols — WordPiece's continuation marking: the first character of
  a word is a bare symbol, every later character is ``##``-prefixed
  (``"abc"`` → ``["a", "##b", "##c"]``). A merge of ``(l, r)``
  produces the token ``l + r[2:]`` (the right side of an adjacent
  pair is always a continuation symbol, so the marker is stripped
  exactly once; the left side keeps its own marking).
* score   — WordPiece picks the pair maximizing
  ``count(l, r) / (count(l) · count(r))`` (the likelihood gain of
  the merge under a unigram LM — BPE's raw-count argmax with the
  coupling denominator). The engine compares the EXACT rational via
  the fixed-point key ``(count << 100) // (count_l · count_r)``:
  two distinct fractions with denominators ``d₁·d₂ ≤ 2^100`` cannot
  share a floor key (they differ by ≥ 1/(d₁·d₂) ≥ 2⁻¹⁰⁰ while equal
  floors differ by < 2⁻¹⁰⁰), so the key order IS the rational order
  for corpora up to 2²⁵ ≈ 33 M tokens — and the key fits both
  Python ints and DuckDB HUGEINT (≤ 2¹²⁵). Ties (equal fractions)
  break by lexicographically smallest (l, r). Stop when the best
  pair's count drops below ``min_count``.
* merge application — ``text._apply_pair_passes``: the SAME
  replace-with-trailing-delimiter-skip chain the whole BPE family
  uses (one spec for merge application repo-wide; the oracle's
  string ``replace`` chain reproduces it for free).
* vocab   — the corpus alphabet (bare + ``##`` single-char symbols,
  sorted) then merge tokens in rank order, first occurrence wins on
  duplicates (a residual pair re-chosen in a later round recreates
  an existing token; BERT vocabs dedup the same way).
* encode  — greedy longest-match (BERT's WordpieceTokenizer): from
  position 0, take the LONGEST vocabulary token matching (bare form
  at position 0, ``##`` form after); a position with no match fails
  the WHOLE word to one NULL element (the honest-OOV rule
  gpt2_token_ids/unigram_token_ids follow — counts reflect the
  miss). Greedy is spec, not an approximation: a word with a valid
  segmentation that greedy misses is OOV in BERT too.

Scale: corpus → words is one exchange; training runs driver-side on
the DISTINCT-WORDS table (dimension-sized; bounded by
``driver_vocab_max`` with the bpe_train loud-refusal rule) with
pair/symbol counts DELTA-MAINTAINED per merge (only words containing
the merged pair are touched — the bpe_train_incremental_reference
rule; the per-round argmax is a scan of the held pair table, exact
because stale entries are never kept). Encoding is a zero-shuffle
per-row fold over literal maps.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import _apply_pair_passes, tokens

_SCALE_BITS = 100


def word_symbols(w: str) -> list[str]:
    """WordPiece symbolization: bare first char, ``##`` continuations."""
    return [w[0]] + ["##" + ch for ch in w[1:]]


def score_key(c: int, ca: int, cb: int) -> int:
    """The exact-rational fixed-point ordering key (module docstring):
    ``(c << 100) // (ca · cb)``."""
    return (c << _SCALE_BITS) // (ca * cb)


def merge_token(l: str, r: str) -> str:
    """Token a merge creates: right side is always a continuation."""
    return l + r[2:]


def wordpiece_train_incremental_reference(
    word_counts: dict[str, int], n_merges: int, min_count: int = 2
) -> list[tuple[str, str, int, int, int]]:
    """Delta-maintained driver trainer (the
    bpe_train_incremental_reference rule): pair counts, symbol counts
    and a pair → word-occurrence index are built ONCE, then each
    merge touches only the words that contain the chosen pair
    (old-parts counts retracted, post-merge counts added, index
    diffed). The per-round argmax is a full scan of the HELD pair
    table — unlike BPE's lazy max-heap this cannot be a heap, because
    a merge that lowers a SYMBOL's count raises the score of every
    untouched pair containing it (the denominator shrinks), so stale
    heap keys would under-rank true maxima; the scan of a
    dimension-sized dict is memory-speed and exact. Trajectory-equal
    to the recount-per-round loop (pinned by hypothesis sweep + the
    unrolled SQL oracle)."""
    words: list[tuple[list[str], int]] = [
        (word_symbols(w), int(c)) for w, c in word_counts.items() if w
    ]
    pc: dict[tuple[str, str], int] = {}
    sc: dict[str, int] = {}
    occ: dict[tuple[str, str], set[int]] = {}
    for wi, (parts, c) in enumerate(words):
        for s in parts:
            sc[s] = sc.get(s, 0) + c
        for p in zip(parts, parts[1:]):
            pc[p] = pc.get(p, 0) + c
            occ.setdefault(p, set()).add(wi)
    merges: list[tuple[str, str, int, int, int]] = []
    for _ in range(n_merges):
        best = None
        best_rank = None
        for (l, r), c in pc.items():
            if c < min_count:
                continue
            rank = (-score_key(c, sc[l], sc[r]), l, r)
            if best_rank is None or rank < best_rank:
                best_rank, best = rank, (l, r, c)
        if best is None:
            break
        l, r, c = best
        merges.append((l, r, c, sc[l], sc[r]))
        out_sym = merge_token(l, r)
        for wi in sorted(occ.get((l, r), ())):
            parts, n = words[wi]
            new_parts = _apply_pair_passes(parts, l, r, out_sym)
            if new_parts == parts:
                continue
            for s in parts:
                sc[s] -= n
            for s in new_parts:
                sc[s] = sc.get(s, 0) + n
            old_pairs = list(zip(parts, parts[1:]))
            new_pairs = list(zip(new_parts, new_parts[1:]))
            for p in old_pairs:
                pc[p] -= n
            for p in new_pairs:
                pc[p] = pc.get(p, 0) + n
            old_set, new_set = set(old_pairs), set(new_pairs)
            for p in old_set - new_set:
                s = occ.get(p)
                if s is not None:
                    s.discard(wi)
            for p in new_set - old_set:
                occ.setdefault(p, set()).add(wi)
            words[wi] = (new_parts, n)
        # drop exhausted entries so the argmax scan stays tight
        for p in [p for p, v in pc.items() if v <= 0]:
            del pc[p]
            occ.pop(p, None)
        for s in [s for s, v in sc.items() if v <= 0]:
            del sc[s]
    return merges


def wordpiece_vocab(
    word_counts: dict[str, int],
    merges: list[tuple[str, str, int, int, int]] | list[tuple[str, str]],
) -> list[str]:
    """Token list in id order: corpus alphabet (bare + ``##``
    single-char symbols, sorted) then merge tokens in rank order,
    first occurrence wins on duplicates."""
    alphabet: set[str] = set()
    for w in word_counts:
        if w:
            alphabet.update(word_symbols(w))
    out = sorted(alphabet)
    seen = set(out)
    for m in merges:
        t = merge_token(m[0], m[1])
        if t not in seen:
            seen.add(t)
            out.append(t)
    return out


def wordpiece_train(
    df: DataFrame,
    text_col: str,
    n_merges: int,
    min_count: int = 2,
    driver_vocab_max: int = 4_000_000,
) -> tuple[list[tuple[str, str, int, int, int]], list[str]]:
    """Distributed WordPiece training: the corpus is touched EXACTLY
    ONCE (token explode + count aggregate — the only corpus-sized
    exchange), then the dimension-sized (wordform, count) table
    trains driver-side with the delta-maintained incremental trainer
    (zero per-merge Spark jobs — the bpe_train mode='driver'
    rationale: the score's corpus-global denominators make every
    round a vocabulary-wide argmax anyway, and the vocabulary is
    ~10⁵-10⁶ rows for natural-language corpora at ANY corpus size).
    Refuses loudly above ``driver_vocab_max`` (a vocabulary that big
    needs a distributed-rounds path, not a silent driver OOM — the
    house cap rule). Returns (merges, vocab-in-id-order)."""
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
        .localCheckpoint(eager=True)
    )
    n_vocab = words.count()
    if n_vocab > driver_vocab_max:
        raise ValueError(
            f"vocabulary has {n_vocab} wordforms > "
            f"driver_vocab_max={driver_vocab_max}; raise the bound "
            "explicitly if the driver can hold it"
        )
    wc = {r["w"]: int(r["n"]) for r in words.collect()}
    merges = wordpiece_train_incremental_reference(
        wc, n_merges, min_count
    )
    return merges, wordpiece_vocab(wc, merges)


def _id_map(pairs: list[tuple[str, int]]) -> Column:
    return F.create_map(
        *[x for t, i in pairs for x in (F.lit(t), F.lit(i).cast("int"))]
    )


def wordpiece_word_ids(word: Column, vocab: list[str]) -> Column:
    """Greedy longest-match ids of a single-word column as
    array<int> (NULL = OOV word) — the vocabulary rides the plan as
    two literal maps (bare start forms, stripped continuation forms;
    the lang_id_hashed pattern): zero shuffle, zero UDF. One fold
    iteration per character upper-bounds the token walk (every step
    consumes ≥ 1 char); the longest-match probe is a coalesce chain
    of length-descending map lookups."""
    starts = [
        (t, i) for i, t in enumerate(vocab) if not t.startswith("##")
    ]
    conts = [
        (t[2:], i) for i, t in enumerate(vocab) if t.startswith("##")
    ]
    if not starts or not conts:
        # degenerate vocab: nothing can match beyond single-form words
        pass
    max_len = max(
        [len(t) for t, _ in starts] + [len(t) for t, _ in conts] + [1]
    )
    sm = _id_map(starts) if starts else F.create_map()
    cm = _id_map(conts) if conts else F.create_map()
    zero = F.struct(
        F.lit(0).cast("int").alias("pos"),
        F.array().cast("array<int>").alias("ids"),
        F.lit(False).alias("failed"),
    )

    def probe(pos: Column) -> Column:
        tries = []
        for ln in range(max_len, 0, -1):
            piece = word.substr(pos + 1, F.lit(ln))
            hit = F.when(
                pos == 0, F.element_at(sm, piece)
            ).otherwise(F.element_at(cm, piece))
            tries.append(
                F.when(
                    hit.isNotNull(),
                    F.struct(
                        F.lit(ln).cast("int").alias("l"),
                        hit.alias("id"),
                    ),
                )
            )
        return F.coalesce(*tries)

    def step(acc: Column, _i: Column) -> Column:
        m = probe(acc["pos"])
        return F.when(
            acc["failed"] | (acc["pos"] >= F.length(word)), acc
        ).otherwise(
            F.when(
                m.isNull(),
                F.struct(
                    acc["pos"].alias("pos"),
                    acc["ids"].alias("ids"),
                    F.lit(True).alias("failed"),
                ),
            ).otherwise(
                F.struct(
                    (acc["pos"] + m["l"]).alias("pos"),
                    F.concat(acc["ids"], F.array(m["id"])).alias("ids"),
                    F.lit(False).alias("failed"),
                )
            )
        )

    walked = F.aggregate(
        F.sequence(F.lit(1), F.greatest(F.length(word), F.lit(1))),
        zero,
        step,
    )
    return F.when(~walked["failed"], walked["ids"])


def wordpiece_token_ids(
    text: Column | str, vocab: list[str]
) -> Column:
    """Greedy longest-match encode of a text column under a trained
    vocabulary (:func:`wordpiece_train` output): tokenize, per-word
    walk, flatten. An OOV word contributes ONE NULL element (the
    honest-OOV rule). Zero shuffle — literal maps only."""
    t = F.col(text) if isinstance(text, str) else text
    per_word = F.transform(
        tokens(t),
        lambda w: F.coalesce(
            wordpiece_word_ids(w, vocab),
            F.array(F.lit(None).cast("int")),
        ),
    )
    return F.flatten(per_word)
