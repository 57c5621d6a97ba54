"""Unigram-LM trainer/encoder: the BPE-family test discipline —
pure-Python reference twin, trajectory equality for the distributed
path, property sweeps, honest-OOV contract, refuse-loudly guards."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from mongodb_etl_migration_spark.operators import unigram as U


def unigram_train_reference(
    word_counts: dict[str, int],
    vocab_size: int,
    seed_size: int,
    max_piece_len: int = 4,
    rounds: int = 3,
    seed_min_count: int = 2,
    max_word_len: int = 16,
) -> list[tuple[str, int, int]]:
    """Plain-Python reference unigram trainer (the module spec,
    executed naively) — the ground truth ``unigram.unigram_train`` is
    trajectory-pinned against. Returns the final vocabulary as
    (piece, count, cost_q16) in (count DESC, piece ASC) rank order;
    the list index is the piece id."""
    wc = {
        w: int(c)
        for w, c in word_counts.items()
        if w and len(w) <= max_word_len
    }
    sub: dict[str, int] = {}
    for w, c in wc.items():
        for i in range(len(w)):
            for k in range(1, max_piece_len + 1):
                if i + k > len(w):
                    break
                p = w[i : i + k]
                sub[p] = sub.get(p, 0) + c
    chars = sorted({ch for w in wc for ch in w})
    multi = sorted(
        (
            (p, c)
            for p, c in sub.items()
            if len(p) > 1 and c >= seed_min_count
        ),
        key=lambda kv: (-kv[1], kv[0]),
    )
    counts = {ch: sub[ch] for ch in chars}
    counts.update(dict(multi[: max(seed_size - len(chars), 0)]))

    for t in range(1, rounds + 1):
        total = sum(counts.values())
        costs = {p: U.ilog2_q16(total, c) for p, c in counts.items()}
        usage: dict[str, int] = {}
        for w, c in wc.items():
            for p in U.viterbi_segment_reference(w, costs, max_piece_len):
                usage[p] = usage.get(p, 0) + c
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
        counts = {ch: max(usage.get(ch, 0), 1) for ch in chars}
        counts.update(dict(kept_multi))

    total = sum(counts.values())
    ranked = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
    return [(p, c, U.ilog2_q16(total, c)) for p, c in ranked]


def test_ilog2_q16_pure_integer_log():
    """The no-libm fixed-point log: within 2 q16-ulps of the float
    truth everywhere, EXACT on powers of two, monotone in the ratio,
    and refuses out-of-domain inputs."""
    rng = random.Random(7)
    for _ in range(5000):
        total = rng.randrange(1, 1 << 50)
        count = rng.randrange(1, total + 1)
        got = U.ilog2_q16(total, count)
        assert abs(got - math.log2(total / count) * 65536) <= 2
    for e in range(0, 40):
        assert U.ilog2_q16(1 << e, 1) == e * 65536
    assert U.ilog2_q16(123456, 123456) == 0
    # monotone: smaller count -> larger cost (fixed total)
    costs = [U.ilog2_q16(10_000, c) for c in range(1, 10_001)]
    assert all(a >= b for a, b in zip(costs, costs[1:]))
    with pytest.raises(ValueError):
        U.ilog2_q16(5, 6)
    with pytest.raises(ValueError):
        U.ilog2_q16(5, 0)


def test_viterbi_reference_optimality_bruteforce():
    """The reference DP equals brute-force minimization under the
    spec's global key (cost, #pieces, reversed-boundary lexicographic)
    on random small vocabularies — the tie-break characterization the
    SQL oracle sorts by."""
    rng = random.Random(3)

    def brute(word, costs, L):
        outs = []

        def walk(pos, acc, bounds):
            if pos == len(word):
                outs.append(
                    (
                        sum(costs[p] for p in acc),
                        len(acc),
                        tuple(reversed(bounds[1:])),
                        list(acc),
                    )
                )
                return
            for k in range(1, min(L, len(word) - pos) + 1):
                p = word[pos : pos + k]
                if p in costs:
                    walk(pos + k, acc + [p], bounds + [pos + k])

        walk(0, [], [0])
        return min(outs)[3] if outs else None

    for _ in range(300):
        word = "".join(rng.choice("abc") for _ in range(rng.randrange(1, 9)))
        costs = {c: rng.randrange(1, 50) * 1000 for c in "abc"}
        for _ in range(rng.randrange(0, 8)):
            i = rng.randrange(0, len(word))
            k = rng.randrange(2, 5)
            costs[word[i : i + k]] = rng.randrange(1, 50) * 1000
        # drop a char sometimes to exercise infeasibility
        if rng.random() < 0.2:
            costs.pop(word[0], None)
        want = brute(word, costs, 4)
        got = U.viterbi_segment_reference(word, costs, 4)
        assert got == want, (word, costs, got, want)


def test_unigram_train_spark_equals_reference_sweep(spark):
    """Trajectory pinning: the distributed trainer reproduces the
    pure-Python reference bit for bit (vocab, counts, Q16 costs, rank
    order) on random corpora — the bpe_train equality discipline."""
    rng = random.Random(11)
    base = ["spark", "sparse", "parse", "park", "pass", "mass",
            "mask", "task", "tasks", "asks", "ask", "a", "as"]
    for trial in range(3):
        words = rng.choices(base, k=60) + [
            "".join(rng.choice("aps") for _ in range(rng.randrange(1, 7)))
            for _ in range(10)
        ]
        wc: dict[str, int] = {}
        for w in words:
            wc[w] = wc.get(w, 0) + 1
        docs = [
            (i, " ".join(rng.sample(words, k=min(8, len(words)))))
            for i in range(20)
        ]
        # word counts must match what the docs actually contain
        wc = {}
        for _, t in docs:
            for w in t.split():
                wc[w] = wc.get(w, 0) + 1
        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        for vs, ss, r in [(10, 25, 2), (16, 40, 3)]:
            ref = unigram_train_reference(
                wc, vocab_size=vs, seed_size=ss, rounds=r
            )
            got = U.unigram_train(
                df, "text", vocab_size=vs, seed_size=ss, rounds=r
            )
            assert got == ref, (trial, vs, ss, r)


def test_unigram_encode_paths_agree_and_oov(spark):
    """Column-path encode == per-word reference, and the honest-OOV
    rule: a word the vocabulary cannot cover yields ONE NULL element,
    never a silent skip."""
    train = spark.createDataFrame(
        [(0, "spark parse mask task ask")], "doc_id bigint, text string"
    )
    docs = [
        (1, "spark spark parse"),
        (2, "mask task QQQ ask"),  # QQQ lowercases to qqq: q unseen
        (3, ""),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    vocab = U.unigram_train(
        train, "text", vocab_size=12, seed_size=30, rounds=2
    )
    costs = {p: c for p, _n, c in vocab}
    ids = {p: i for i, (p, _n, _c) in enumerate(vocab)}

    col = {
        r.doc_id: r.ids
        for r in df.select(
            "doc_id", U.unigram_token_ids("text", vocab).alias("ids")
        ).collect()
    }
    for did, text in docs:
        want: list[int | None] = []
        for w in text.lower().split():
            w = "".join(ch for ch in w if ch.isalnum())
            segs = U.viterbi_segment_reference(w, costs, 4)
            if segs is None:
                want.append(None)
            else:
                want.extend(ids[p] for p in segs)
        assert list(col[did]) == want, (did, list(col[did]), want)
    assert None in col[2]  # the OOV word is visible, not dropped


def test_unigram_train_modes_agree(spark):
    """The Arrow E-step (production vocabularies — Catalyst literal-
    map lookups are linear scans) is trajectory-identical to the
    Column fold AND to the pure-Python reference; auto mode picks
    column under the threshold."""
    rng = random.Random(23)
    words = ["spark", "parse", "park", "mask", "task", "asks"] * 8 + [
        "".join(rng.choice("apskmr") for _ in range(rng.randrange(2, 8)))
        for _ in range(20)
    ]
    docs = [(i, " ".join(rng.sample(words, k=8))) for i in range(15)]
    wc: dict[str, int] = {}
    for _, t in docs:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    ref = unigram_train_reference(wc, vocab_size=14, seed_size=40, rounds=3)
    col = U.unigram_train(
        df, "text", vocab_size=14, seed_size=40, rounds=3, mode="column"
    )
    arr = U.unigram_train(
        df, "text", vocab_size=14, seed_size=40, rounds=3, mode="arrow"
    )
    assert col == arr == ref
    with pytest.raises(ValueError, match="unknown mode"):
        U.unigram_train(df, "text", vocab_size=4, seed_size=10, mode="x")


def test_unigram_train_refuses_bad_params(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id bigint, text string")
    with pytest.raises(ValueError, match="DRIVER_VOCAB_MAX"):
        U.unigram_train(
            df, "text", vocab_size=10, seed_size=U.DRIVER_VOCAB_MAX + 1
        )
    with pytest.raises(ValueError, match="vocab_size"):
        U.unigram_train(df, "text", vocab_size=50, seed_size=20)


def test_unigram_roundtrip_decode(spark):
    """Segment-then-concatenate reproduces every coverable word: the
    vocabulary always contains all single chars, so training-corpus
    words decode losslessly."""
    df = spark.createDataFrame(
        [(i, "hello world help hold" ) for i in range(5)],
        "doc_id bigint, text string",
    )
    vocab = U.unigram_train(df, "text", vocab_size=14, seed_size=30, rounds=3)
    costs = {p: c for p, _n, c in vocab}
    for w in ["hello", "world", "help", "hold"]:
        segs = U.viterbi_segment_reference(w, costs, 4)
        assert "".join(segs) == w
