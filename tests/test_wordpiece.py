"""WordPiece trainer/encoder: the tokenizer-family test discipline —
pure-Python reference twin, delta-maintained path trajectory-pinned
against the recount path, exact-rational score ordering, greedy
longest-match semantics (including greedy-is-spec OOV), honest-OOV
contract, refuse-loudly guards."""

from __future__ import annotations

import random
from fractions import Fraction

import pytest
from pyspark.sql import functions as F

from mongodb_etl_migration_spark.operators import wordpiece as WP
from mongodb_etl_migration_spark.operators.text import _apply_pair_passes


def wordpiece_train_reference(
    word_counts: dict[str, int], n_merges: int, min_count: int = 2
) -> list[tuple[str, str, int, int, int]]:
    """Plain-Python reference WordPiece TRAINER — recount-per-round
    ground truth the incremental path is trajectory-pinned against.
    Per round: adjacent-pair counts AND symbol counts over the
    weighted vocabulary, argmax by (score_key DESC, (l, r) ASC),
    merge applied everywhere via ``_apply_pair_passes``. Returns
    (left, right, pair_count, left_count, right_count) in rank
    order."""
    vocab = {
        w: (WP.word_symbols(w), int(c))
        for w, c in word_counts.items()
        if w
    }
    merges: list[tuple[str, str, int, int, int]] = []
    for _ in range(n_merges):
        pc: dict[tuple[str, str], int] = {}
        sc: dict[str, int] = {}
        for parts, c in vocab.values():
            for s in parts:
                sc[s] = sc.get(s, 0) + c
            for a, b in zip(parts, parts[1:]):
                pc[(a, b)] = pc.get((a, b), 0) + c
        cands = [
            (l, r, c) for (l, r), c in pc.items() if c >= min_count
        ]
        if not cands:
            break
        l, r, c = min(
            cands,
            key=lambda t: (-WP.score_key(t[2], sc[t[0]], sc[t[1]]), t[0], t[1]),
        )
        merges.append((l, r, c, sc[l], sc[r]))
        out_sym = WP.merge_token(l, r)
        vocab = {
            w: (_apply_pair_passes(parts, l, r, out_sym), n)
            for w, (parts, n) in vocab.items()
        }
    return merges


def wordpiece_encode_reference(
    word: str, vocab: list[str]
) -> list[int] | None:
    """Greedy longest-match encode of one word (BERT's
    WordpieceTokenizer): None = OOV (no match at some position)."""
    start = {t: i for i, t in enumerate(vocab) if not t.startswith("##")}
    cont = {t[2:]: i for i, t in enumerate(vocab) if t.startswith("##")}
    out: list[int] = []
    pos = 0
    while pos < len(word):
        table = start if pos == 0 else cont
        for ln in range(len(word) - pos, 0, -1):
            i = table.get(word[pos:pos + ln])
            if i is not None:
                out.append(i)
                pos += ln
                break
        else:
            return None
    return out


def test_score_key_orders_exact_rationals():
    """The fixed-point key (c << 100) // (ca·cb) induces EXACTLY the
    rational order of c/(ca·cb) whenever denominators stay ≤ 2^100 —
    distinct fractions never share a floor (module-docstring proof),
    so comparing keys IS comparing the likelihood scores."""
    rng = random.Random(5)
    trips = [
        (rng.randrange(1, 1 << 25), rng.randrange(1, 1 << 25),
         rng.randrange(1, 1 << 25))
        for _ in range(4000)
    ]
    keyed = [
        (WP.score_key(c, a, b), Fraction(c, a * b)) for c, a, b in trips
    ]
    for (k1, f1), (k2, f2) in zip(keyed, keyed[1:]):
        if f1 < f2:
            assert k1 < k2
        elif f1 > f2:
            assert k1 > k2
        else:
            assert k1 == k2
    # equal fractions with different representations share the key
    assert WP.score_key(2, 4, 6) == WP.score_key(1, 4, 3)
    assert WP.score_key(3, 2, 2) == WP.score_key(6, 4, 2)


def test_word_symbols_and_merge_token():
    assert WP.word_symbols("abc") == ["a", "##b", "##c"]
    assert WP.word_symbols("x") == ["x"]
    assert WP.merge_token("a", "##b") == "ab"
    assert WP.merge_token("##a", "##bc") == "##abc"
    # the override arg on the shared pass chain strips ## exactly once
    assert _apply_pair_passes(["a", "##b", "##c"], "a", "##b", "ab") == [
        "ab", "##c"
    ]


def test_likelihood_score_diverges_from_raw_count_bpe():
    """The coupling denominator is load-bearing: a corpus where the
    most FREQUENT pair sits on ubiquitous symbols while a rarer pair
    sits on exclusive ones — WordPiece must pick the rarer pair
    (higher c/(ca·cb)), where BPE's raw-count argmax would not."""
    # 'ab' appears 10× but a,b also appear alone constantly;
    # 'xy' appears 4× and x,y appear ONLY there.
    wc = {"ab": 10, "a": 90, "b": 90, "xy": 4}
    merges = wordpiece_train_reference(wc, n_merges=1)
    (l, r, c, ca, cb) = merges[0]
    assert (l, r) == ("x", "##y")
    assert (c, ca, cb) == (4, 4, 4)
    # raw-count argmax would have chosen (a, ##b) with count 10
    assert Fraction(4, 4 * 4) > Fraction(10, 100 * 100)


def test_trainer_paths_trajectory_equal_sweep():
    """The delta-maintained incremental trainer reproduces the
    recount-per-round reference bit for bit — merges, pair counts AND
    symbol counts — on random corpora across (n_merges, min_count).
    This is the pin that makes the argmax-scan-not-heap argument
    (denominators of untouched pairs change) safe."""
    rng = random.Random(17)
    for trial in range(25):
        alpha = "abcd"[: rng.randrange(2, 5)]
        wc = {}
        for _ in range(rng.randrange(3, 30)):
            w = "".join(
                rng.choice(alpha) for _ in range(rng.randrange(1, 9))
            )
            wc[w] = wc.get(w, 0) + rng.randrange(1, 20)
        for n_merges, min_count in [(5, 2), (12, 1), (30, 3)]:
            ref = wordpiece_train_reference(wc, n_merges, min_count)
            inc = WP.wordpiece_train_incremental_reference(
                wc, n_merges, min_count
            )
            assert inc == ref, (trial, n_merges, min_count, wc)


def test_train_stops_below_min_count():
    wc = {"ab": 1, "cd": 1}
    assert wordpiece_train_reference(wc, 5, min_count=2) == []
    got = wordpiece_train_reference(wc, 5, min_count=1)
    assert len(got) == 2  # each word merges once, then no pairs remain


def test_vocab_order_and_first_wins_dedup():
    wc = {"ab": 5, "ba": 5}
    merges = [("a", "##b", 5, 5, 5), ("a", "##b", 5, 5, 5)]
    vocab = WP.wordpiece_vocab(wc, merges)
    assert vocab == ["##a", "##b", "a", "b", "ab"]  # sorted alpha, dedup


def test_spark_train_equals_reference(spark):
    """wordpiece_train (one corpus exchange + driver incremental) ==
    the pure-Python reference on the same word counts."""
    rng = random.Random(29)
    words = ["spark", "sparse", "parse", "park", "mask", "task"] * 5 + [
        "".join(rng.choice("apskm") for _ in range(rng.randrange(1, 7)))
        for _ in range(15)
    ]
    docs = [(i, " ".join(rng.sample(words, k=8))) for i in range(20)]
    wc: dict[str, int] = {}
    for _, t in docs:
        for w in t.split():
            wc[w] = wc.get(w, 0) + 1
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    merges, vocab = WP.wordpiece_train(df, "text", n_merges=10)
    ref = wordpiece_train_reference(wc, 10)
    assert merges == ref
    assert vocab == WP.wordpiece_vocab(wc, ref)


def test_train_refuses_above_driver_vocab_max(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id bigint, text string"
    )
    with pytest.raises(ValueError, match="driver_vocab_max"):
        WP.wordpiece_train(df, "text", n_merges=2, driver_vocab_max=3)


def test_encode_reference_greedy_is_spec():
    """Greedy longest-match FAILS words a smarter segmentation could
    cover — and that is the spec (BERT's WordpieceTokenizer does the
    same): vocab {a, ab, ##bc} on 'abc' → greedy takes 'ab', strands
    '##c', OOV; the feasible a + ##bc is deliberately not found."""
    vocab = ["a", "ab", "##bc"]
    assert wordpiece_encode_reference("abc", vocab) is None
    assert wordpiece_encode_reference("a", vocab) == [0]
    assert wordpiece_encode_reference("abbc", vocab) == [1, 2]
    # longest match at interior positions too
    vocab2 = ["x", "##y", "##yz", "##z"]
    assert wordpiece_encode_reference("xyz", vocab2) == [0, 2]


def test_encode_paths_agree_and_honest_oov(spark):
    """Column literal-map walk == per-word reference on trained
    vocab; an uncoverable word is ONE NULL
    element counted 1 (the catalog row renders it 'x'), empty docs
    keep n_tokens=0 rows."""
    train = spark.createDataFrame(
        [(0, "spark parse mask task ask asks")],
        "doc_id bigint, text string",
    )
    merges, vocab = WP.wordpiece_train(train, "text", n_merges=8)
    docs = [
        (1, "spark spark parse"),
        (2, "mask task QQQ ask"),  # qqq: q absent from the alphabet
        (3, ""),
        (4, "Ask ASKS a"),  # case-folding + 1-char word
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")
    col = {
        r.doc_id: r.ids
        for r in df.select(
            "doc_id", WP.wordpiece_token_ids("text", vocab).alias("ids")
        ).collect()
    }
    for did, text in docs:
        want: list[int | None] = []
        for w in text.lower().split():
            w = "".join(ch for ch in w if ch.isalnum())
            got = wordpiece_encode_reference(w, vocab)
            want.extend([None] if got is None else got)
        assert list(col[did]) == want, (did, list(col[did]), want)
    assert None in col[2]  # OOV visible, never dropped
    assert col[3] == []


def test_encode_roundtrip_decodes_training_words(spark):
    """Every training-corpus word is coverable (alphabet ⊂ vocab) and
    concatenating its matched pieces (## stripped) reproduces it."""
    train = spark.createDataFrame(
        [(0, "hello world help hold holder")],
        "doc_id bigint, text string",
    )
    _merges, vocab = WP.wordpiece_train(train, "text", n_merges=12)
    for w in ["hello", "world", "help", "hold", "holder"]:
        ids = wordpiece_encode_reference(w, vocab)
        assert ids is not None
        joined = "".join(
            vocab[i][2:] if vocab[i].startswith("##") else vocab[i]
            for i in ids
        )
        assert joined == w


def test_token_ids_dedup_equals_direct_paths(spark):
    """The dictionary-encode operator (text.token_ids_dedup) is
    output-identical to the per-occurrence Column paths for BOTH
    word-keyed families — including OOV NULL elements, repeated
    words, case folding, and empty/whitespace documents (row kept,
    empty array)."""
    from mongodb_etl_migration_spark.operators import text as T
    from mongodb_etl_migration_spark.operators import unigram as U

    train = spark.createDataFrame(
        [(0, "spark parse mask task ask asks")],
        "doc_id bigint, text string",
    )
    docs = [
        (1, "spark spark parse ask"),
        (2, "mask QQQ task"),  # qqq: q not in either alphabet
        (3, ""),
        (4, "   "),
        (5, "Ask ASKS spark"),
    ]
    df = spark.createDataFrame(docs, "doc_id bigint, text string")

    _m, wp_vocab = WP.wordpiece_train(train, "text", n_merges=8)
    uni_vocab = U.unigram_train(
        train, "text", vocab_size=14, seed_size=40, rounds=2
    )
    for encode in (
        lambda w: WP.wordpiece_token_ids(w, wp_vocab),
        lambda w: U.unigram_token_ids(w, uni_vocab),
    ):
        direct = {
            r.doc_id: list(r.ids)
            for r in df.select(
                "doc_id", encode(F.col("text")).alias("ids")
            ).collect()
        }
        dedup = {
            r.doc_id: list(r.token_ids)
            for r in T.token_ids_dedup(df, "text", encode).collect()
        }
        assert dedup == direct
        assert dedup[3] == [] and dedup[4] == []
        assert None in dedup[2]
