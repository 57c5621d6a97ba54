"""Known answers for the SQL-fragment expression helpers.

The vector (``similarity``), GPT-2/BPE (``text``), chat-SFT (``chat``)
and shingle/MinHash (``dedup``) helpers each build ONE parsed SQL
expression. Every check here compares that expression against a plain
Python reference over adversarial rows: empty / NULL / NULL-element /
unequal-length arrays, negative zero, extreme exponents and non-finite
plane components; quotes, backslashes, tabs, newlines and non-ASCII
text; NULL roles and contents; duplicate shingles.
"""

from __future__ import annotations

import hashlib
import math
import re

import pytest
from pyspark.sql import functions as F

from mongodb_etl_migration_spark.operators import chat as CH
from mongodb_etl_migration_spark.operators import text as T
from mongodb_etl_migration_spark.operators.dedup import (
    MINHASH_P,
    _shingle_expr_sql,
    affine_params,
    minhash_signatures_narrow,
)
from mongodb_etl_migration_spark.operators.similarity import (
    _dvec,
    _f8_sql,
    _pq_best_sql,
    dot,
    hyperplane_bucket,
    lit_vec_sql,
    norm,
)
from tests.references import sft_tokens_reference

INF, NAN = float("inf"), float("nan")

# ---------------------------------------------------------------- vectors
ROWS = [
    (1, [1.0, 2.0, 3.0], [4.0, 5.0, 6.0]),
    (2, [], []),
    (3, None, [1.0, 2.0]),
    (4, [1.0, None, 3.0], [1.0, 1.0, 1.0]),
    (5, [1.0, 2.0], [1.0, 2.0, 3.0]),          # unequal → zip_with pads NULL
    (6, [-0.0, 0.0], [1.0, -1.0]),
    (7, [1e-300, -1e300], [1e300, 1e-300]),
    (8, [-1.5, 2.5], None),
    (9, [0.0, -2.0, 1e300], [3.0, 1e-300, -0.5]),
]

PLANES = [
    [1.0, -1.0, 0.5],
    [-0.0, 1e-300, -2.5e17],
    [0.1, 0.2, 0.30000000000000004],            # non-terminating binary reprs
    [INF, 0.0, 0.0],
    [-INF, 1.0, 1.0],
    [NAN, 0.0, 0.0],
]


def ref_dot(a, b):
    """Spark's fold: zip_with pads the shorter side with NULL, and any
    NULL product makes the whole sum NULL."""
    if a is None or b is None:
        return None
    n = max(len(a), len(b))
    acc = 0.0
    for i in range(n):
        x = a[i] if i < len(a) else None
        y = b[i] if i < len(b) else None
        if x is None or y is None:
            return None
        acc = acc + x * y
    return acc


def ref_norm(a):
    if a is None or None in a:
        return None
    acc = 0.0
    for x in a:
        acc = acc + x * x
    return math.sqrt(acc)


def ref_bucket(v, planes):
    """Spark orders NaN above every number, so ``NaN >= 0`` is true; a
    NULL dot product takes the CASE's else branch."""
    bits = []
    for p in planes:
        d = ref_dot(v, p)
        bits.append("1" if d is not None and (d != d or d >= 0) else "0")
    return "".join(bits)


def same(got, want):
    if isinstance(want, float) and math.isnan(want):
        return isinstance(got, float) and math.isnan(got)
    return got == want


@pytest.fixture(scope="module")
def vec_df(spark):
    return spark.createDataFrame(
        ROWS, "id int, a array<double>, b array<double>"
    )


def test_dot_known_answers(vec_df):
    for r in vec_df.select("id", "a", "b", dot("a", "b").alias("d")).collect():
        assert same(r["d"], ref_dot(r["a"], r["b"])), (r["id"], r["d"])


def test_norm_known_answers(vec_df):
    for r in vec_df.select("id", "a", norm("a").alias("n")).collect():
        assert same(r["n"], ref_norm(r["a"])), (r["id"], r["n"])


def test_dvec_known_answers(spark):
    rows = [(1, [1, 2, 3]), (2, []), (3, None), (4, [-7, None])]
    df = spark.createDataFrame(rows, "id int, a array<int>")
    got = dict(df.select("id", _dvec("a").alias("v")).collect())
    assert got == {1: [1.0, 2.0, 3.0], 2: [], 3: None, 4: [-7.0, None]}


def test_hyperplane_bucket_known_answers(vec_df):
    out = vec_df.select(
        "id", "a", hyperplane_bucket("a", PLANES).alias("h")
    ).collect()
    for r in out:
        assert r["h"] == ref_bucket(r["a"], PLANES), (r["id"], r["h"])
    # the non-finite planes are live on the 3-d rows, not just NULLs
    assert {r["id"]: r["h"] for r in out}[1] == "101101"


def test_vector_dotted_names_are_struct_fields(spark):
    """A dotted name resolves as a struct field, exactly like F.col."""
    df = spark.createDataFrame(
        [(1, ([1.0, 2.0, 3.0], [3.0, 4.0, 0.0]))],
        "id int, s struct<vec:array<double>, w:array<double>>",
    )
    out = df.select(
        dot("s.vec", "s.w").alias("d"),
        norm("s.w").alias("n"),
        _dvec("s.vec").alias("v"),
        hyperplane_bucket("s.vec", PLANES).alias("b"),
    ).collect()[0]
    assert out["d"] == 11.0 and out["n"] == 5.0
    assert out["v"] == [1.0, 2.0, 3.0]
    assert out["b"] == ref_bucket([1.0, 2.0, 3.0], PLANES)
    with pytest.raises(ValueError, match="backtick"):
        dot("`a`", "b")


def test_nonfinite_plane_literals(spark):
    """repr() spells non-finite floats 'inf'/'nan', which the SQL
    parser rejects — _f8_sql emits the CAST spelling."""
    assert _f8_sql(INF) == "cast('Infinity' as double)"
    assert _f8_sql(-INF) == "cast('-Infinity' as double)"
    assert _f8_sql(NAN) == "cast('NaN' as double)"
    v = [1.5, -0.0, 1e-300, INF, -INF, NAN]
    got = spark.sql(f"select {lit_vec_sql(v)} as v").collect()[0]["v"]
    assert got[:5] == v[:5] and math.copysign(1.0, got[1]) == -1.0
    assert math.isnan(got[5])
    assert spark.sql(f"select {lit_vec_sql([])} as v").collect()[0]["v"] == []


def test_pq_argmin_known_answers(spark):
    """_pq_best_sql: per-subspace argmin of the squared distance over
    md5-derived subvectors, ties (a duplicated centroid) going to the
    smaller code."""

    def h(s, lo, hi):
        v = int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
        return v % (hi - lo) + lo

    book = [[h(f"b{c}:{e}", -50, 50) for e in range(4)] for c in range(6)]
    book[3] = list(book[1])  # duplicate centroid: forced d2 tie
    rows = [
        (i, [h(f"v{i}:{e}", -50, 50) for e in range(4)]) for i in range(40)
    ] + [(100, list(book[1])), (101, [0, 0, 0, 0])]
    df = spark.createDataFrame(rows, "id int, sub array<bigint>")
    got = df.select(
        "id", "sub", F.expr(_pq_best_sql("`sub`", book)).alias("s")
    ).collect()
    for r in got:
        d2 = [sum((x - c) ** 2 for x, c in zip(r["sub"], cv)) for cv in book]
        want = min((d, code) for code, d in enumerate(d2))
        assert (r["s"]["d2"], r["s"]["code"]) == want, r["id"]
    assert {r["id"]: r["s"]["code"] for r in got}[100] == 1


# ------------------------------------------------------------ GPT-2 / chat
MERGES = T.parse_merges(
    """\
Ġ t
Ġ a
h e
i n
r e
o n
he llo
w o
r l
d s
"""
)

TEXTS = [
    "hello world",
    "",
    None,
    "it's a test\nwith newline\tand tab",
    "quote ' and \\ backslash",
    "ñ unicode 💡",
    "  spaces  ",
    "the quick brown fox",
    "a" * 200,
]

CONVS = [
    [(0, "user", "hello there"), (1, "assistant", "hi! it's me"), (2, "user", "bye")],
    [(0, "assistant", "only assistant\nmultiline")],
    [(0, None, "null role"), (1, "assistant", None)],
    [],
    [(0, "system", "you're helpful"), (1, "assistant", "quote ' \\ tab\t")],
]

_WS = str.maketrans(" \t\n", "ĠĉĊ")


def ref_symbols(t):
    """The expression path's scope: each pretoken's characters (not its
    UTF-8 bytes) enter the merge loop, with only the three ASCII
    whitespace bytes remapped. On ASCII text this IS
    gpt2_apply_reference (asserted below)."""
    out = []
    for tok in T.gpt2_pretokenize_reference(t):
        out.extend(T.bpe_apply_reference(tok.translate(_WS), MERGES))
    return out


@pytest.fixture(scope="module")
def text_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "i int, t string"
    )


@pytest.fixture(scope="module")
def conv_df(spark):
    return spark.createDataFrame(
        [(i, c) for i, c in enumerate(CONVS)],
        f"doc_id int, turns {CH.TURN_STRUCT}",
    )


def test_gpt2_encoded_known_answers(text_df):
    got = dict(
        text_df.select("i", T.gpt2_encoded("t", MERGES).alias("e")).collect()
    )
    for i, t in enumerate(TEXTS):
        if t is None:
            assert got[i] is None
            continue
        assert got[i] == " ".join(ref_symbols(t)), (i, got[i])
        if t.isascii():
            assert ref_symbols(t) == T.gpt2_apply_reference(t, MERGES)


def test_gpt2_token_ids_known_answers(text_df):
    vocab = T.gpt2_vocab(MERGES)
    got = dict(
        text_df.select("i", T.gpt2_token_ids("t", MERGES).alias("x")).collect()
    )
    for i, t in enumerate(TEXTS):
        want = None if t is None else [vocab.get(s) for s in ref_symbols(t)]
        assert got[i] == want, (i, got[i])
    assert None in got[5]  # '💡' is outside the 256-symbol alphabet


@pytest.mark.parametrize("template", ["tagged", "chatml"])
@pytest.mark.parametrize("use_special", [False, True])
def test_sft_tokens_known_answers(conv_df, template, use_special):
    sids = (
        CH.special_token_ids(MERGES, ["<|im_start|>", "<|im_end|>"])
        if use_special
        else None
    )
    rows = conv_df.select(
        "doc_id",
        "turns",
        CH.sft_tokens("turns", MERGES, template, special_ids=sids).alias("s"),
    ).collect()
    assert len(rows) == len(CONVS)
    for r in rows:
        ids, spans = sft_tokens_reference(r["turns"], MERGES, template, sids)
        assert list(r["s"]["token_ids"]) == ids, r["doc_id"]
        got_spans = [
            (m["turn_idx"], m["tok_start"], m["tok_end"])
            for m in r["s"]["mask_spans"]
        ]
        assert got_spans == spans, r["doc_id"]


def _escaping_rows(session):
    """A templated GPT-2 encode, the ids→text decode and sft_tokens
    over the quote/backslash/tab/newline rows, in ``session``."""
    texts = session.createDataFrame(
        [(i, t) for i, t in enumerate(TEXTS)], "i int, t string"
    )
    convs = session.createDataFrame(
        [(i, c) for i, c in enumerate(CONVS)],
        f"doc_id int, turns {CH.TURN_STRUCT}",
    )
    enc = texts.select(
        "i",
        T.gpt2_encoded("t", MERGES).alias("e"),
        T.gpt2_decode_ascii(T.gpt2_token_ids("t", MERGES), MERGES).alias("d"),
    ).collect()
    sft = convs.select(
        "doc_id", CH.sft_tokens("turns", MERGES, "chatml").alias("s")
    ).collect()
    return sorted(enc), sorted(sft)


def test_sql_templates_equal_under_legacy_escaping(spark):
    """Template literals spell quote/backslash as chr(39)/chr(92), so
    every value is the same whichever way the parser reads escapes —
    in this session with the conf flipped, and in a second session
    created with the legacy conf."""
    key = "spark.sql.parser.escapedStringLiterals"
    assert T._sql_str("a'b\\c") == "concat('a', chr(39), 'b', chr(92), 'c')"
    base = _escaping_rows(spark)
    decoded = dict((r["i"], r["d"]) for r in base[0])
    for i, t in enumerate(TEXTS):
        if t is not None and t.isascii():
            assert decoded[i] == t, (i, decoded[i])  # lossless on ASCII
    spark.conf.set(key, "true")
    try:
        assert _escaping_rows(spark) == base
    finally:
        spark.conf.set(key, "false")
    legacy = spark.newSession()
    legacy.conf.set(key, "true")
    assert _escaping_rows(legacy) == base


def test_gpt2_dotted_name_is_struct_field(spark):
    """gpt2_encoded/gpt2_token_ids resolve a dotted name as a struct
    field, like F.col."""
    merges = [("h", "e"), ("he", "l")]
    vocab = T.gpt2_vocab(merges)
    df = spark.createDataFrame(
        [(1, ("hello",))], "id int, s struct<txt:string>"
    )
    out = df.select(
        T.gpt2_encoded("s.txt", merges).alias("e"),
        T.gpt2_token_ids("s.txt", merges).alias("i"),
    ).collect()[0]
    assert out["e"] == "hel l o"
    assert out["i"] == [vocab["hel"], vocab["l"], vocab["o"]]


# ---------------------------------------------------------- shingles
DOCS = [
    "the quick brown fox jumps over the lazy dog",
    "a b",                                   # shorter than k → empty array
    "",
    None,
    "dup dup dup dup dup",                   # duplicate shingles collapse
    "ñ unicode 💡 tokens here and more",
    "x " * 200,
]


def ref_shingles(t, k=3):
    toks = re.findall(T.TOKEN_RE, (t or "").lower())
    grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    return list(dict.fromkeys(grams))  # array_distinct keeps first seen


@pytest.fixture(scope="module")
def doc_df(spark):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(DOCS)], "doc_id int, text string"
    )


def test_shingle_known_answers(doc_df):
    got = dict(
        doc_df.select("doc_id", T.tokens("text").alias("_toks"))
        .select("doc_id", F.expr(_shingle_expr_sql("`_toks`", 3)).alias("s"))
        .collect()
    )
    for i, t in enumerate(DOCS):
        assert got[i] == ref_shingles(t), (i, got[i])
    assert got[4] == ["dup dup dup"]


def test_minhash_narrow_known_answers(doc_df):
    def base_hash(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % MINHASH_P

    got = {
        r["doc_id"]: r
        for r in minhash_signatures_narrow(doc_df, "doc_id", "text").collect()
    }
    for i, t in enumerate(DOCS):
        hs = [base_hash(s) for s in ref_shingles(t)]
        for j, (a, b) in enumerate(affine_params(16)):
            want = min(((a * h) + b) % MINHASH_P for h in hs) if hs else None
            assert got[i][f"sig_{j}"] == want, (i, j)
