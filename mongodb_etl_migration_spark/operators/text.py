"""Text-analysis operators for training-data pipelines.

Beyond-reference extensions (BASELINE.json north star): language ID,
quality scoring, token counting, fingerprinting — all pure JVM Column
expressions (no Python UDFs), so they vectorize inside whole-stage
codegen and scale linearly with input splits (no shuffle at all for
per-document scores).

Hashing is md5 (lowercase hex) everywhere so results are reproducible
across engines (the DuckDB oracle computes the identical value).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from mongodb_etl_migration_spark.threads import DriverThreads

TOKEN_RE = "[a-z0-9]+"

# Tiny deterministic marker lists for the n-gram/stopword language
# heuristic. Real pipelines plug fastText/CLD3 here; the heuristic is
# the Spark-side plumbing pattern (pure columnar, no UDF).
LANG_MARKERS = {
    "en": ("the", "and", "of", "to", "is"),
    "es": ("el", "la", "de", "que", "y"),
    "de": ("der", "die", "und", "das", "ist"),
    "fr": ("le", "la", "et", "les", "des"),
}

STOPWORDS = ("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")


def tokens(c: Column | str) -> Column:
    """Lowercased word tokens via regexp — the whitespace+BPE-ish
    tokenizer's first stage."""
    col = F.col(c) if isinstance(c, str) else c
    return F.regexp_extract_all(F.lower(col), F.lit(TOKEN_RE), 0)


def lit_int_array(vals) -> Column:
    """array<int> literal in ONE py4j round-trip. ``F.lit(list)``
    recurses per element (pyspark: ``array(*[lit(x) for x in col])``
    — 2 driver round-trips each), which made big vocab/codebook
    literals the dominant query-CONSTRUCTION cost (gpt2_token_ids:
    ~870 ms of its 1.0 s build in the 277-entry map literal, r14
    cProfile receipt); a 1-D numpy array crosses in one call.
    int32 == the element type ``F.lit(python_int)`` produced, so
    expression types are unchanged."""
    import numpy as np

    if not len(vals):
        return F.array().cast("array<int>")
    return F.lit(np.asarray([int(v) for v in vals], dtype="int32"))


def lit_long_array(vals) -> Column:
    """array<bigint> literal in ONE py4j round-trip (see
    :func:`lit_int_array`) — the twin for sites whose element-wise
    form cast to long."""
    import numpy as np

    if not len(vals):
        return F.array().cast("array<bigint>")
    return F.lit(np.asarray([int(v) for v in vals], dtype="int64"))


def _sql_str(s: str) -> str:
    """SQL string literal whose value is the same under either setting
    of ``spark.sql.parser.escapedStringLiterals``: characters pass
    through raw (tabs and newlines included) and each ``'`` or ``\\``
    is spliced in as ``chr(39)``/``chr(92)`` inside ``concat(...)``,
    so no escape sequence is ever left for a parser to read. Constant
    folding turns the concat back into one literal in the optimized
    plan."""
    parts = [p for p in re.split(r"(['\\])", s) if p]
    if not any(p in ("'", "\\") for p in parts):
        return f"'{s}'"
    return "concat(" + ", ".join(
        f"chr({ord(p)})" if p in ("'", "\\") else f"'{p}'" for p in parts
    ) + ")"


def sql_ident(name: str) -> str:
    """SQL reference to column ``name`` that resolves exactly like
    ``F.col(name)``: each dot-separated segment is backticked, so a
    dotted name is a struct field (``s.txt`` → `` `s`.`txt` ``). A
    name containing a backtick is rejected."""
    if "`" in name:
        raise ValueError(f"column name with a backtick: {name!r}")
    return ".".join(f"`{seg}`" for seg in name.split("."))


def lit_string_array(vals) -> Column:
    """array<string> literal in ONE expr parse (numpy has no py4j
    string-array converter; a SQL array literal does it in a single
    round-trip). Elements go through :func:`_sql_str`, so values are
    the same under either parser escaping mode; the array<string>
    containsNull=false type matches the element-wise
    ``F.array(*[F.lit(s) ...])`` form."""
    if not len(vals):
        return F.array().cast("array<string>")
    return F.expr("array(" + ",".join(_sql_str(str(v)) for v in vals) + ")")


def cpu_fan_out(df, fan_out: bool | None = None):
    """One-off fan-out repartition for CPU-bound per-row scorers
    (Gopher repetition, MinHash signatures): when the per-input-byte
    CPU cost dwarfs the scan, a source with fewer file splits than
    cores leaves most of the box idle, and one shuffle pays for
    itself (measured 3-6x wall at sf0.1, 32 cores / 1 file).

    ``fan_out=None`` (default) keeps the HEURISTIC: fan out iff
    ``0 < len(df.inputFiles()) < defaultParallelism`` — inputFiles(),
    not rdd.getNumPartitions(), because the RDD accessor instantiates
    the physical RDD just to read a number, and an in-memory frame
    (no files) is already sized by createDataFrame. On a real
    many-split corpus the heuristic is false and the plan keeps ZERO
    exchanges. Pass ``fan_out=True/False`` to PIN the plan shape —
    receipt runs comparing shuffle bytes across hosts or scale tiers
    MUST pin it (the heuristic keys on cores and file count, so the
    same catalog can otherwise plan differently per host; ADVICE r9,
    [[scale-receipt-artifacts]])."""
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    if fan_out is None:
        fan_out = 0 < len(df.inputFiles()) < parallelism
    return df.repartition(parallelism) if fan_out else df


def token_count(c: Column | str, toks: Column | None = None) -> Column:
    """Token count (whitespace/regex tokenizer). Pass ``toks`` (a
    materialized token-array column) in hot paths: lambda bodies sit
    outside codegen CSE, so an inlined tokenizer re-runs per
    consumer."""
    return F.size(tokens(c) if toks is None else toks)


def approx_bpe_token_count(c: Column | str) -> Column:
    """Cheap BPE-token estimate: ceil(chars/4) blended with word count —
    the standard serving-side heuristic (chars/4 ≈ GPT-ish tokens)."""
    col = F.col(c) if isinstance(c, str) else c
    return F.ceil(F.length(col) / F.lit(4.0)).cast("bigint")


def _word_count_re(words: tuple[str, ...]) -> str:
    """Regex that matches any of ``words`` as a WHOLE token (token =
    maximal [a-z0-9]+ run, same as TOKEN_RE) via lookarounds. Longest
    alternative first so 'an' can't shadow 'and'."""
    alts = "|".join(sorted(words, key=len, reverse=True))
    return f"(?<![a-z0-9])(?:{alts})(?![a-z0-9])"


def word_hits(
    c: Column | str | None,
    words: tuple[str, ...],
    toks: Column | None = None,
) -> Column:
    """Count of tokens equal to any of ``words`` — equivalent to
    size(filter(tokens(c), isin(words))) but WITHOUT a higher-order
    lambda: HOFs are CodegenFallback, so their argument trees escape
    whole-stage codegen subexpression elimination and re-evaluate per
    consumer when an optimizer rule (e.g. filter pushdown) inlines
    them. Two lambda-free strategies, both codegen-able + CSE-able:
    from the raw text, one regexp count (preferred — measured as fast
    as the lambda filter and ~1.7× faster than array_remove at
    sf0.1); from a materialized token array (``c=None``), per-word
    array_remove size deltas (counts duplicates)."""
    if c is None:
        if toks is None:
            raise ValueError("word_hits needs a text column or a token array")
        hits = F.lit(0).cast("long")
        for w in words:
            hits = hits + (F.size(toks) - F.size(F.array_remove(toks, w)))
        return hits.cast("long")
    col = F.col(c) if isinstance(c, str) else c
    return F.size(
        F.regexp_extract_all(F.lower(col), F.lit(_word_count_re(words)), 0)
    ).cast("long")


def stopword_ratio(c: Column | str, toks: Column | None = None) -> Column:
    stops = word_hits(c, STOPWORDS, toks=toks)
    toks = tokens(c) if toks is None else toks
    return F.when(F.size(toks) > 0, stops / F.size(toks)).otherwise(F.lit(0.0))


def alpha_ratio(c: Column | str) -> Column:
    """Share of alphanumeric+space characters — punctuation/noise gauge."""
    col = F.col(c) if isinstance(c, str) else c
    clean = F.regexp_replace(F.lower(col), "[^a-z0-9 ]", "")
    return F.when(F.length(col) > 0, F.length(clean) / F.length(col)).otherwise(
        F.lit(0.0)
    )


def mean_token_len(c: Column | str, toks: Column | None = None) -> Column:
    toks = tokens(c) if toks is None else toks
    # sum of token lengths == chars in the concatenation — no
    # F.aggregate lambda (see word_hits for why lambdas are hostile)
    total = F.length(F.array_join(toks, "")).cast("double")
    return F.when(F.size(toks) > 0, total / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(c: Column | str, toks: Column | None = None) -> Column:
    """Composite [0,1] quality score: length saturation + stopword
    presence + alphanumeric cleanliness + plausible word lengths.
    Fixed weights so the score is stable engine-to-engine.

    Evaluates the token array 4x — ALWAYS pass a materialized ``toks``
    column from a prior projection in real pipelines."""
    n = token_count(c, toks).cast("double")
    len_component = F.least(n / F.lit(50.0), F.lit(1.0))
    stop_component = F.least(stopword_ratio(c, toks) * F.lit(3.0), F.lit(1.0))
    alpha_component = alpha_ratio(c)
    mtl = mean_token_len(c, toks)
    word_component = F.when((mtl >= 3.0) & (mtl <= 10.0), F.lit(1.0)).otherwise(
        F.lit(0.5)
    )
    from mongodb_etl_migration_spark.functions.scalars import stable_round

    # stable_round, not F.round: Spark's double round() is repr-based
    # and disagrees with DuckDB's binary rounding on values like
    # 0.78575 (see scalars.stable_round).
    return stable_round(
        F.lit(0.3) * len_component
        + F.lit(0.2) * stop_component
        + F.lit(0.3) * alpha_component
        + F.lit(0.2) * word_component,
        4,
    )


def lang_scores(c: Column | str, toks: Column | None = None) -> dict[str, Column]:
    """Per-language marker-hit counts (lambda-free — word_hits)."""
    return {
        lang: word_hits(c, markers, toks=toks)
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(c: Column | str, toks: Column | None = None) -> Column:
    """Argmax language with deterministic tie-break: the first language
    (in sorted code order) whose score equals the max wins — the same
    CASE-WHEN chain the SQL oracle writes."""
    scores = lang_scores(c, toks)
    langs = sorted(scores)
    top = F.greatest(*[scores[lang] for lang in langs])
    expr: Column | None = None
    for lang in langs[:-1]:
        w = F.when(scores[lang] == top, F.lit(lang))
        expr = w if expr is None else expr.when(scores[lang] == top, F.lit(lang))
    return expr.otherwise(F.lit(langs[-1]))


# Char-n-gram weights for the fastText-style language classifier
# (Joulin et al. 2016 — the CCNet language gate runs exactly this
# model shape: a linear classifier over character n-grams). Grams are
# 1-3 chars over space-padded lowercased text (unigrams carry the
# script signal for non-Latin languages, trigrams the morphology);
# integer weights so scoring is exact on every engine. A real
# fastText lid model drops into the same table (hash-bucketed grams,
# ~1M rows) without changing the plan.
LANG_NGRAM_WEIGHTS: dict[str, dict[str, int]] = {
    # en
    " th": {"en": 3}, "the": {"en": 3}, "he ": {"en": 2}, "nd ": {"en": 2},
    "ing": {"en": 2}, " of": {"en": 3}, "of ": {"en": 2}, " is": {"en": 2},
    " an": {"en": 1}, "ng ": {"en": 1},
    # de
    "der": {"de": 3}, "ein": {"de": 3}, "ich": {"de": 3}, "sch": {"de": 2},
    "und": {"de": 3}, "die": {"de": 3}, " ge": {"de": 2}, "ung": {"de": 2},
    "en ": {"de": 2}, "er ": {"de": 1},
    # es
    " el": {"es": 2}, "el ": {"es": 1}, "ión": {"es": 3}, "ón ": {"es": 2},
    "ado": {"es": 2}, " lo": {"es": 2}, "os ": {"es": 2}, "la ": {"es": 1},
    "que": {"es": 2, "fr": 1}, " la": {"es": 2, "fr": 1},
    # fr
    " le": {"fr": 3}, "le ": {"fr": 2}, "les": {"fr": 2}, " et": {"fr": 2},
    "et ": {"fr": 1}, "eau": {"fr": 2}, "aux": {"fr": 2}, "oir": {"fr": 2},
    "ait": {"fr": 2}, " dé": {"fr": 1},
    # it
    " di": {"it": 2}, "di ": {"it": 2}, "lla": {"it": 3}, "ell": {"it": 2},
    " il": {"it": 3}, "il ": {"it": 2}, "zio": {"it": 3}, "gli": {"it": 3},
    "ità": {"it": 3}, "che": {"it": 2},
    # pt
    "ão ": {"pt": 3}, "ção": {"pt": 3}, " do": {"pt": 2}, "do ": {"pt": 1},
    " da": {"pt": 2}, "da ": {"pt": 1}, " em": {"pt": 1}, "em ": {"pt": 1},
    " um": {"pt": 2}, "ara": {"pt": 1},
    # ru (script unigrams + common morphology trigrams)
    "ы": {"ru": 3}, "ж": {"ru": 2}, "щ": {"ru": 3}, "э": {"ru": 2},
    "ю": {"ru": 2}, "я": {"ru": 2}, "ого": {"ru": 3}, " пр": {"ru": 2},
    "ать": {"ru": 2}, "ть ": {"ru": 2},
    # el
    "ς": {"el": 3}, "α": {"el": 2}, "ω": {"el": 2}, "και": {"el": 3},
    " το": {"el": 2}, "ου": {"el": 2},
}


def lang_norm(c: Column | str) -> Column:
    """Space-padded, whitespace-collapsed, lowercased text — the
    classifier's normalized form. Padding spaces make word boundaries
    visible to trigrams, the fastText convention. MATERIALIZE this in
    its own projection before gram extraction: lambda bodies sit
    outside codegen CSE, so an inlined norm would re-run the regex
    chain once per CHARACTER position — O(len²) per document
    (measured 47 s for 5.5k real-corpus docs before staging vs ~1 s
    after)."""
    return F.concat(
        F.lit(" "),
        F.trim(
            F.regexp_replace(
                F.lower(F.col(c) if isinstance(c, str) else c), "\\s+", " "
            )
        ),
        F.lit(" "),
    )


def lang_grams_of(s: Column) -> Column:
    """Char 1- and 3-grams of an already-MATERIALIZED lang_norm
    column (see lang_norm's staging note) — pure Column, zero
    shuffle."""
    L = F.length(s)
    tris = F.when(
        L >= 3,
        F.transform(
            F.sequence(F.lit(1), L - 2), lambda i: F.substring(s, i, F.lit(3))
        ),
    ).otherwise(F.array().cast("array<string>"))
    unis = F.transform(
        F.sequence(F.lit(1), L), lambda i: F.substring(s, i, F.lit(1))
    )
    return F.concat(tris, unis)


def lang_id_ngram(
    df,
    id_col: str,
    text_col: str,
    weights: dict[str, dict[str, int]] | None = None,
):
    """fastText-grade language ID — a linear char-n-gram classifier
    (the CCNet gate's model shape) replacing the marker-word
    heuristic (``lang_id``) where real per-language discrimination is
    needed. Per document: extract 1/3-grams, sum each language's
    integer weight over gram OCCURRENCES, argmax with deterministic
    alphabetical tie-break; a document no gram of which carries any
    weight scores ``und``.

    Scale shape (classifier_margin's, generalized to multi-class):
    grams explode narrowly, inner-join the BROADCAST weight relation
    — one row per gram with per-language weight COLUMNS, so k
    languages cost one join, not k — OOV grams drop in the join, and
    the per-document sums are map-side-combinable: the plan's ONLY
    exchange carries one (doc, k sums) row per document per map
    task. The empty-string sentinel (unproducible: every gram is 1
    or 3 chars of a padded string) keeps zero-hit documents alive
    exactly as in classifier_margin. A ~1M-row fastText vocabulary
    swaps in without changing the plan.

    Output: (id_col, lang_pred string, lang_score bigint)."""
    weights = LANG_NGRAM_WEIGHTS if weights is None else weights
    if "" in weights:
        raise ValueError("weights must not contain the empty-string gram")
    langs = sorted({lang for d in weights.values() for lang in d})
    spark = df.sparkSession
    schema = "gram string, " + ", ".join(f"s_{lang} long" for lang in langs)
    rows = [
        tuple([g] + [int(d.get(lang, 0)) for lang in langs])
        for g, d in sorted(weights.items())
    ] + [tuple([""] + [0] * len(langs))]
    w = spark.createDataFrame(rows, schema)
    # the norm MUST be its own projection: inlining it would re-run
    # the lower/regexp chain once per character inside the gram
    # lambdas (no CSE across lambda bodies) — O(len²) per doc
    staged = df.select(F.col(id_col), lang_norm(text_col).alias("__s"))
    ex = staged.select(
        F.col(id_col),
        F.explode(
            F.concat(
                F.array(F.lit("")),
                F.coalesce(
                    lang_grams_of(F.col("__s")),
                    F.array().cast("array<string>"),
                ),
            )
        ).alias("gram"),
    )
    summed = (
        ex.join(F.broadcast(w), "gram")
        .groupBy(id_col)
        .agg(*[F.sum(f"s_{lang}").alias(f"s_{lang}") for lang in langs])
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in langs])
    pred: Column = F.when(best <= 0, F.lit("und"))
    for lang in langs:
        pred = pred.when(F.col(f"s_{lang}") == best, F.lit(lang))
    return summed.select(
        id_col,
        pred.alias("lang_pred"),
        F.greatest(best, F.lit(0)).cast("bigint").alias("lang_score"),
    )


# 18 more languages on top of LANG_NGRAM_WEIGHTS — Latin-script
# morphology trigrams plus script unigrams for Cyrillic (uk/bg
# distinguished from ru by і/ї/є and ъ), RTL (ar/he), Indic, CJK and
# Thai. Snippet-validated: each language's fixture sentence wins its
# own class under both the exact and the hash-bucketed scorer.
_LANG_NGRAM_WEIGHTS_NEW: dict[str, dict[str, int]] = {
    # nl
    "ijk": {"nl": 3}, "van": {"nl": 2}, "aar": {"nl": 2}, "cht": {"nl": 2},
    "oor": {"nl": 2}, "een": {"nl": 2}, "het": {"nl": 3},
    # sv
    "och": {"sv": 3}, "för": {"sv": 3}, "är ": {"sv": 2}, "ska": {"sv": 2},
    " på": {"sv": 2}, "att": {"sv": 2}, "ill": {"sv": 1},
    # da
    "og ": {"da": 3}, "ede": {"da": 2}, "rne": {"da": 2}, " af": {"da": 2},
    "ikk": {"da": 2}, "hvo": {"da": 2}, "kke": {"da": 2},
    # fi
    "ssä": {"fi": 3}, "nen": {"fi": 3}, "ksi": {"fi": 2}, "ään": {"fi": 3},
    "elä": {"fi": 2}, "kin": {"fi": 1}, "uom": {"fi": 2},
    # pl
    "ość": {"pl": 3}, "rze": {"pl": 2}, "czy": {"pl": 2}, "ych": {"pl": 2},
    "ła ": {"pl": 2}, "ów ": {"pl": 2}, "ąż": {"pl": 3},
    # cs
    "ení": {"cs": 3}, "ách": {"cs": 2}, "pře": {"cs": 2}, "ský": {"cs": 3},
    "že ": {"cs": 2}, "ost": {"cs": 1}, "ř": {"cs": 3},
    # ro
    "ul ": {"ro": 2}, "ște": {"ro": 3}, " și": {"ro": 3}, "și ": {"ro": 2},
    "ără": {"ro": 2}, "în ": {"ro": 2}, "ţ": {"ro": 2}, "ț": {"ro": 3},
    # hu
    "gy ": {"hu": 2}, "sze": {"hu": 2}, "ész": {"hu": 2}, "ban": {"hu": 3},
    "nak": {"hu": 2}, "min": {"hu": 1}, "ő": {"hu": 3},
    # tr
    "lar": {"tr": 3}, "yor": {"tr": 3}, "bir": {"tr": 3}, "ını": {"tr": 2},
    "ş": {"tr": 2}, "ğ": {"tr": 3}, "ı": {"tr": 2},
    # uk / bg (on top of the ru rows in the base table)
    "і": {"uk": 3}, "ї": {"uk": 3}, "є": {"uk": 3}, "ння": {"uk": 2},
    "ъ": {"bg": 3}, "ите": {"bg": 2}, "ата": {"bg": 2}, "ият": {"bg": 2},
    # ar / he
    "ا": {"ar": 2}, "ل": {"ar": 2}, "م": {"ar": 2}, " ال": {"ar": 3},
    "ة": {"ar": 3},
    "א": {"he": 2}, "ש": {"he": 2}, "ה": {"he": 2}, "ת": {"he": 2},
    "ב": {"he": 1},
    # hi
    "क": {"hi": 2}, "ह": {"hi": 2}, "म": {"hi": 2}, "न": {"hi": 2},
    "र": {"hi": 2}, "स": {"hi": 2},
    # ja / ko / zh / th
    "の": {"ja": 3}, "に": {"ja": 2}, "は": {"ja": 2}, "を": {"ja": 3},
    "で": {"ja": 2}, "た": {"ja": 2},
    "이": {"ko": 2}, "다": {"ko": 2}, "는": {"ko": 2}, "을": {"ko": 3},
    "에": {"ko": 2}, "하": {"ko": 2},
    "的": {"zh": 3}, "是": {"zh": 2}, "了": {"zh": 2}, "在": {"zh": 2},
    "人": {"zh": 2}, "有": {"zh": 2},
    "ก": {"th": 2}, "า": {"th": 2}, "ร": {"th": 2}, "น": {"th": 2},
    "ม": {"th": 2}, "ย": {"th": 2},
}

# The 26-language table: base 8 languages' rows merged with the new
# 18 (a gram weighted by several languages keeps every weight —
# Hebrew 'ל' shares its codepoint with nothing, but Latin trigrams
# like 'che' legitimately score both it and de-adjacent text).
LANG_NGRAM_WEIGHTS_EXT: dict[str, dict[str, int]] = {}
for _g, _d in list(LANG_NGRAM_WEIGHTS.items()) + list(
    _LANG_NGRAM_WEIGHTS_NEW.items()
):
    LANG_NGRAM_WEIGHTS_EXT.setdefault(_g, {}).update(_d)


def lang_id_train(
    df,
    label_col: str,
    text_col: str,
    top_k: int = 8,
    min_share_pct: int = 90,
    min_count: int = 2,
):
    """LEARN a lang-ID weight relation from labeled text — the
    trainer that pairs with lang_id_ngram/lang_id_hashed the way
    bpe_train pairs with the BPE encoders, so the classify loop is
    closable entirely in-engine (train → broadcast → gate). The
    model is the deliberately simple, integer-exact core of the
    n-gram approach: for each label, the ``top_k`` most frequent
    grams whose occurrences are ≥``min_share_pct``% concentrated in
    that label (the share test is the exact integer inequality
    cnt_lg·100 ≥ cnt_g·share — no division, no floats), weighted 3
    when fully exclusive and 2 otherwise. Grams every language emits
    (padding spaces, shared digits, function-word overlap below the
    share bar) filter out naturally.

    Scale shape: the corpus is touched ONCE (the narrow gram explode
    into the (gram, label) count); everything after runs on the
    VOCABULARY-sized relation — a per-gram total (one exchange), the
    share filter, and a per-label top-k window (WindowGroupLimit
    trims map-side). Deterministic ordering (count desc, gram asc)
    makes the learned relation hash-exact across engines.

    Output: (label_col, gram, weight int, cnt_lg, cnt_g bigint) —
    feed ``{g: {lang: w}}`` into lang_id_ngram / lang_id_hashed."""
    from pyspark.sql import Window

    if not (0 < min_share_pct <= 100):
        raise ValueError("min_share_pct must be in (0, 100]")
    staged = df.select(
        F.col(label_col), lang_norm(text_col).alias("__s")
    )
    ex = staged.select(
        F.col(label_col),
        F.explode(
            F.coalesce(
                lang_grams_of(F.col("__s")),
                F.array().cast("array<string>"),
            )
        ).alias("gram"),
    )
    by_lg = ex.groupBy("gram", label_col).agg(
        F.count("*").alias("cnt_lg")
    )
    with_tot = by_lg.withColumn(
        "cnt_g", F.sum("cnt_lg").over(Window.partitionBy("gram"))
    )
    cand = with_tot.filter(
        (F.col("cnt_lg") >= min_count)
        & (F.col("cnt_lg") * 100 >= F.col("cnt_g") * min_share_pct)
    )
    rn = F.row_number().over(
        Window.partitionBy(label_col).orderBy(
            F.col("cnt_lg").desc(), F.col("gram").asc()
        )
    )
    return (
        cand.withColumn("__rn", rn)
        .filter(F.col("__rn") <= top_k)
        .select(
            label_col,
            "gram",
            F.when(F.col("cnt_lg") == F.col("cnt_g"), 3)
            .otherwise(2)
            .cast("int")
            .alias("weight"),
            F.col("cnt_lg").cast("bigint").alias("cnt_lg"),
            F.col("cnt_g").cast("bigint").alias("cnt_g"),
        )
    )


def lang_gram_bucket_py(gram: str, buckets: int) -> int:
    """Driver-side twin of the plan's gram-bucket expression:
    md5(utf8)'s first 15 hex digits as a 60-bit int, mod buckets —
    the same construction both engines evaluate (Spark conv/substring
    /md5, DuckDB CAST('0x'||substring(md5(..)))), so the weight
    relation built here and the per-gram buckets computed there
    always agree."""
    import hashlib

    return int(hashlib.md5(gram.encode("utf-8")).hexdigest()[:15], 16) % buckets


def lang_id_hashed(
    df,
    id_col: str,
    text_col: str,
    weights: dict[str, dict[str, int]] | None = None,
    buckets: int = 8192,
):
    """lang_id_ngram with fastText's HASHING TRICK (Joulin et al.
    2016 §2.1): grams hash into a FIXED 2^k-bucket feature space, so
    the broadcast weight relation is at most ``buckets`` rows no
    matter how large the vocabulary grows — the piece that lets a
    real ~1M-gram fastText lid model ride the same plan with a
    bounded broadcast. Colliding grams SHARE a bucket (their weights
    sum — fastText's documented trade-off), deterministically in both
    engines because bucketing is the md5-based 60-bit hash both
    evaluate identically.

    Plan shape is lang_id_ngram's exactly: narrow gram explode → one
    bucket projection → inner join ONE broadcast relation (bucket,
    per-language weight columns) → map-side-combined per-document
    sums → argmax; the ONLY exchange carries one (doc, k sums) row
    per document per map task. The zero-hit sentinel rides bucket -1
    (unproducible: real buckets are non-negative).

    Output: (id_col, lang_pred string, lang_score bigint)."""
    weights = LANG_NGRAM_WEIGHTS_EXT if weights is None else weights
    if "" in weights:
        raise ValueError("weights must not contain the empty-string gram")
    if buckets <= 0:
        raise ValueError("buckets must be positive")
    langs = sorted({lang for d in weights.values() for lang in d})
    if len(langs) < 2:
        # F.greatest needs >=2 columns and the margin reads element 2
        # of the score array (ANSI mode throws on a 1-element array);
        # a 1-language classifier is also semantically vacuous.
        raise ValueError(
            "lang_id_hashed needs weights spanning >= 2 languages; "
            f"got {langs!r}"
        )
    # bucketed weight relation: collisions sum per (bucket, language)
    bw: dict[int, dict[str, int]] = {}
    for g, d in weights.items():
        b = lang_gram_bucket_py(g, buckets)
        slot = bw.setdefault(b, {})
        for lang, wv in d.items():
            slot[lang] = slot.get(lang, 0) + int(wv)
    spark = df.sparkSession
    schema = "bucket long, " + ", ".join(f"s_{lang} long" for lang in langs)
    rows = [
        tuple([b] + [slot.get(lang, 0) for lang in langs])
        for b, slot in sorted(bw.items())
    ] + [tuple([-1] + [0] * len(langs))]
    w = spark.createDataFrame(rows, schema)
    staged = df.select(F.col(id_col), lang_norm(text_col).alias("__s"))
    ex = staged.select(
        F.col(id_col),
        F.explode(
            F.concat(
                F.array(F.lit("")),
                F.coalesce(
                    lang_grams_of(F.col("__s")),
                    F.array().cast("array<string>"),
                ),
            )
        ).alias("gram"),
    )
    bucketed = ex.select(
        F.col(id_col),
        F.when(F.col("gram") == "", F.lit(-1).cast("long"))
        .otherwise(
            F.pmod(
                F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast(
                    "bigint"
                ),
                F.lit(buckets),
            )
        )
        .alias("bucket"),
    )
    summed = (
        bucketed.join(F.broadcast(w), "bucket")
        .groupBy(id_col)
        .agg(*[F.sum(f"s_{lang}").alias(f"s_{lang}") for lang in langs])
    )
    best = F.greatest(*[F.col(f"s_{lang}") for lang in langs])
    pred: Column = F.when(best <= 0, F.lit("und"))
    for lang in langs:
        pred = pred.when(F.col(f"s_{lang}") == best, F.lit(lang))
    # CCNet-style confidence: winner minus runner-up, integer-exact.
    # second_best = max over scores strictly below best; for a
    # clean single-language doc the margin IS most of the score, for
    # mixed text it collapses toward 0 — the keep-threshold knob.
    # Ties (two languages sharing the max) give margin 0 by
    # construction: sorted desc, element 2 equals element 1.
    sorted_desc = F.reverse(
        F.array_sort(F.array(*[F.col(f"s_{lang}") for lang in langs]))
    )
    second = F.element_at(sorted_desc, 2)
    margin = F.when(best <= 0, F.lit(0)).otherwise(
        best - F.greatest(second, F.lit(0))
    )
    return summed.select(
        id_col,
        pred.alias("lang_pred"),
        F.greatest(best, F.lit(0)).cast("bigint").alias("lang_score"),
        margin.cast("bigint").alias("lang_margin"),
    )


def fingerprint(c: Column | str, toks: Column | None = None) -> Column:
    """Canonical document fingerprint: md5 over the sorted distinct
    token set — robust to word order/duplication (near-canonical form
    used for clustering-style dedup)."""
    toks = tokens(c) if toks is None else toks
    canon = F.array_join(F.array_sort(F.array_distinct(toks)), " ")
    return F.md5(canon)


EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
PHONE_RE = "\\+?[0-9][0-9()\\-. ]{7,}[0-9]"
IPV4_RE = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"


def scrub_pii(c: Column | str) -> Column:
    """Training-data PII scrub: emails → <EMAIL>, long digit runs that
    look like phone numbers → <PHONE>, IPv4 literals → <IP>. Pure
    regexp_replace chain — codegen'd, no UDF, linear scan. The regexes
    are the standard pragmatic ones (high recall on obvious
    identifiers); a production pipeline would chain model-based NER
    behind this same Column contract."""
    col = F.col(c) if isinstance(c, str) else c
    out = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, IPV4_RE, "<IP>")
    out = F.regexp_replace(out, PHONE_RE, "<PHONE>")
    return out


def repetition_ratio(c: Column | str, toks: Column | None = None) -> Column:
    """Within-document repetition: 1 − distinct_tokens/total_tokens
    (0 = no repetition). The Gopher-style quality gate for
    boilerplate/spam — repeated nav bars and keyword stuffing score
    high. NULL for empty docs."""
    toks = tokens(c) if toks is None else toks
    total = F.size(toks)
    return F.when(
        total > 0,
        F.lit(1.0) - F.size(F.array_distinct(toks)) / total.cast("double"),
    )


def chunk_documents(
    df, id_col: str, text_col: str, chunk_size: int = 50, stride: int = 40
):
    """Split documents into fixed-size token windows with overlap
    (``stride < chunk_size``) — the sharding step before LLM
    pre-training tokenization. Pure columnar: tokens materialized
    once, chunk starts from ``sequence`` (no UDF), one explode. The
    explode is a narrow 1→N fan-out — zero shuffle; at 100 TB this
    runs entirely map-side and the output is written partition-local.

    Output: (id_col, chunk_idx, n_tokens, chunk_text); docs with no
    tokens produce no chunks."""
    # explode(array(...)) = generate barrier: materializes the token
    # array in its own Generate so the downstream explode can't inline
    # the tokenizer regexp per reference (see dedup.shingles)
    toked = df.select(
        F.col(id_col), F.explode(F.array(tokens(text_col))).alias("_t")
    ).filter(F.size("_t") > 0)
    starts = toked.select(
        F.col(id_col),
        "_t",
        F.explode(
            F.sequence(F.lit(1), F.size("_t"), F.lit(stride))
        ).alias("_s"),
    )
    chunk = F.slice(F.col("_t"), F.col("_s"), chunk_size)
    return starts.select(
        F.col(id_col),
        ((F.col("_s") - 1) / stride).cast("bigint").alias("chunk_idx"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


def pack_sequences(
    df,
    id_col: str,
    ids_col: str,
    seq_len: int = 1024,
    eos_id: int = 50256,
    n_buckets: int = 32,
):
    """Pack per-document token-id arrays into FIXED-LENGTH training
    sequences — the last step of a pre-training data pipeline
    (gpt2_token_ids → THIS → the training loader): documents are
    assigned to deterministic buckets (``id % n_buckets``), each
    bucket's documents concatenate in id order with ``eos_id``
    appended after every document (GPT-2's document separator), and
    the bucket's token stream splits into consecutive ``seq_len``
    windows. The incomplete tail window is DROPPED (the standard
    practice — padding wastes compute; at most seq_len-1 tokens per
    bucket are lost, amortized to nothing at scale).

    Scale shape: ONE exchange (the bucket groupBy). Per-bucket state
    is that bucket's token stream — the same documented bound as
    shard packing: choose n_buckets so a bucket's tokens fit an
    executor (at 100 TB, tens of thousands of buckets; packing
    quality is unaffected since every bucket packs densely). Bucket
    assignment and in-bucket order are pure functions of the id, so
    output is deterministic and engine-portable.

    Output: (bucket, seq_idx, n_tokens, token_ids space-joined
    string — scalar for the driver hash gate); n_tokens always ==
    seq_len (the contract a training loader relies on).

    Per-bucket CEILING: the window slice start is cast to int, so a
    single bucket's stream must stay under 2^31 tokens (~2.1 G, ~4 GB
    of int32 — the same order as the fits-one-executor bound above).
    Under the session's ANSI mode an overflow ABORTS the job rather
    than corrupting windows; size n_buckets >= corpus_tokens / 2^31
    (with headroom) when planning a run — e.g. a 100 TB corpus at
    ~25 G tokens/TB needs n_buckets >> 1200, far below the tens of
    thousands the executor-memory bound already demands."""
    if seq_len < 1 or n_buckets < 1:
        raise ValueError("seq_len and n_buckets must be >= 1")
    per_doc = df.select(
        F.pmod(F.col(id_col).cast("bigint"), F.lit(n_buckets)).alias(
            "bucket"
        ),
        F.struct(
            F.col(id_col).cast("bigint").alias("d"),
            # coalesce: one NULL ids array must not poison the whole
            # bucket (flatten over a NULL inner array returns NULL,
            # silently dropping every co-bucketed document) — a NULL
            # document contributes just its EOS, like an empty one.
            F.concat(
                F.coalesce(
                    F.col(ids_col).cast("array<int>"),
                    F.array().cast("array<int>"),
                ),
                F.array(F.lit(eos_id).cast("int")),
            ).alias("t"),
        ).alias("s"),
    )
    streams = per_doc.groupBy("bucket").agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list("s")), lambda s: s["t"]
            )
        ).alias("__stream")
    )
    n_seq = (F.size("__stream") / seq_len).cast("bigint")
    seqs = streams.filter(n_seq > 0).select(
        "bucket",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_seq - 1)).alias(
            "seq_idx"
        ),
        F.col("__stream"),
    )
    window = F.slice(
        F.col("__stream"),
        (F.col("seq_idx") * seq_len + 1).cast("int"),
        seq_len,
    )
    return seqs.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        "seq_idx",
        F.size(window).cast("bigint").alias("n_tokens"),
        F.array_join(window, " ").alias("token_ids"),
    )


def bfd_bins_fold(items_sorted: Column, seq_len: int) -> Column:
    """Best-fit-decreasing placement as ONE aggregate fold over a
    SORTED item array (items carry their size as a leading ``szneg``
    = -size field, so array_sort's lexicographic order IS
    size-decreasing): each item lands in the bin with the smallest
    remaining capacity that still fits it (tie → lowest bin index),
    else opens a new bin. Returns the bins as
    ``array<struct<rem:int, refs:array<int>>>`` where refs are 0-based
    indices into the SAME sorted item array — O(items) fold state;
    callers resolve refs with O(1) element_at. Shared by
    :func:`pack_sequences_bestfit` (chunked documents) and
    ``chat.pack_sft_bestfit`` (whole conversations + mask remap)."""
    bins_t = "array<struct<rem:int,refs:array<int>>>"
    zero = F.struct(
        F.lit(0).cast("int").alias("k"),
        F.array().cast(bins_t).alias("bins"),
    )

    def step(acc: Column, it: Column) -> Column:
        sz = (-it["szneg"]).cast("int")
        cand = F.filter(
            F.transform(
                acc["bins"],
                lambda b, j: F.struct(
                    b["rem"].alias("rem"), j.cast("int").alias("j")
                ),
            ),
            lambda x: x["rem"] >= sz,
        )
        best = F.array_min(cand)  # lexicographic: min rem, then min j
        newbin = F.struct(
            (F.lit(seq_len).cast("int") - sz).cast("int").alias("rem"),
            F.array(acc["k"]).alias("refs"),
        )
        placed = F.transform(
            acc["bins"],
            lambda b, j: F.when(
                j.cast("int") == best["j"],
                F.struct(
                    (b["rem"] - sz).cast("int").alias("rem"),
                    F.concat(b["refs"], F.array(acc["k"])).alias("refs"),
                ),
            ).otherwise(b),
        )
        return F.struct(
            (acc["k"] + 1).cast("int").alias("k"),
            F.when(F.size(cand) == 0, F.concat(acc["bins"], F.array(newbin)))
            .otherwise(placed)
            .alias("bins"),
        )

    return F.aggregate(items_sorted, zero, step, lambda acc: acc["bins"])


def pack_sequences_bestfit(
    df,
    id_col: str,
    ids_col: str,
    seq_len: int = 1024,
    eos_id: int = 50256,
    n_buckets: int = 32,
):
    """FEWER-TRUNCATIONS sequence packing — best-fit-decreasing bin
    packing of whole documents into ``seq_len`` bins (Ding et al.
    2024, "Fewer Truncations Improve Language Modeling"): unlike
    :func:`pack_sequences`' concat-and-split, a document is NEVER
    split across training sequences (only documents longer than
    seq_len are pre-chunked, the paper's rule), so no training
    example starts mid-document; the cost is pad slack, which BFD
    keeps near-optimal (≤ 11/9 OPT + 1 bins).

    Algorithm, per deterministic bucket (``id % n_buckets``, the
    pack_sequences device): chunk each document's ids+EOS stream into
    ≤seq_len items, sort items (size DESC, id, chunk) — decreasing —
    then place each item into the FULLEST bin that still fits it
    (min remaining capacity, tie → lowest bin index), else open a new
    bin. The whole placement is ONE aggregate fold over the sorted
    item array carrying (items_placed, bins) — bins hold item INDEX
    references, so fold state is O(items), and assembly resolves
    references against the already-collected item array with O(1)
    element_at. Same plan shape and memory bound as pack_sequences:
    exactly ONE exchange (the bucket groupBy), per-bucket state =
    that bucket's token stream, zero UDF. Compute is
    O(items × bins) per bucket — the classic BFD loop, vectorized as
    codegen'd array expressions.

    Output: (bucket, bin_idx, n_tokens, fill_milli, token_ids
    space-joined string). n_tokens ≤ seq_len; fill_milli =
    n_tokens*1000 div seq_len is the utilization the packer is
    graded on (BENCH_pack.json receipts it against pack_sequences'
    token-drop on the same corpus). Deterministic and
    engine-portable: bucket, order, and placement are pure functions
    of (id, sizes)."""
    if seq_len < 1 or n_buckets < 1:
        raise ValueError("seq_len and n_buckets must be >= 1")
    stream = F.concat(
        F.coalesce(
            F.col(ids_col).cast("array<int>"), F.array().cast("array<int>")
        ),
        F.array(F.lit(eos_id).cast("int")),
    )
    n_chunks = F.ceil(F.size(stream) / F.lit(seq_len)).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda c: F.struct(
            c.cast("int").alias("c"),
            F.slice(
                stream, (c * seq_len + 1).cast("int"), seq_len
            ).alias("t"),
        ),
    )
    items = df.select(
        F.pmod(F.col(id_col).cast("bigint"), F.lit(n_buckets)).alias(
            "bucket"
        ),
        F.col(id_col).cast("bigint").alias("d"),
        F.explode(chunks).alias("ch"),
    ).select(
        "bucket",
        F.struct(
            (-F.size(F.col("ch.t"))).cast("int").alias("szneg"),
            F.col("d").alias("d"),
            F.col("ch.c").alias("c"),
            F.col("ch.t").alias("toks"),
        ).alias("it"),
    )
    collected = items.groupBy("bucket").agg(
        F.array_sort(F.collect_list("it")).alias("items")
    )
    step1 = collected.select(
        "bucket", "items", bfd_bins_fold(F.col("items"), seq_len).alias("__bins")
    )
    assembled = F.transform(
        F.col("__bins"),
        lambda b: F.struct(
            (F.lit(seq_len) - b["rem"]).cast("bigint").alias("n_tokens"),
            F.array_join(
                F.flatten(
                    F.transform(
                        b["refs"],
                        lambda r: F.element_at(
                            F.col("items"), r + 1
                        )["toks"],
                    )
                ),
                " ",
            ).alias("token_ids"),
        ),
    )
    out = step1.select(
        F.col("bucket").cast("bigint").alias("bucket"),
        F.posexplode(assembled),
    )
    return out.select(
        "bucket",
        F.col("pos").cast("bigint").alias("bin_idx"),
        F.col("col.n_tokens").alias("n_tokens"),
        F.expr(f"(col.n_tokens * 1000) div {seq_len}")
        .cast("bigint")
        .alias("fill_milli"),
        F.col("col.token_ids").alias("token_ids"),
    )


def epoch_shuffle(
    df,
    key_cols: list[str],
    seed: int,
    pos_col: str = "epoch_pos",
):
    """Deterministic training-epoch shuffle — the seeded reproducible
    global permutation a training loader consumes after
    pack_sequences (epoch N's data order must be replayable for
    checkpoint-resume and debuggable loss spikes; see the data-order
    determinism requirement in any large pre-training run).

    The permutation is a pure function of (seed, row identity):
    order key = md5(seed ':' md5(col1) ':' md5(col2) ...), ascending
    — a keyed hash, so SAME seed ⇒ bit-identical order on any
    cluster size / partition count, DIFFERENT seed ⇒ decorrelated
    order (tested). No RNG state, no driver-side permutation array.
    Each key column hashes SEPARATELY to fixed-width hex before the
    join: raw concatenation would let string keys containing the
    separator alias each other (('a:b','c') vs ('a','b:c')) and
    would silently drop NULL columns; a NULL key encodes as the
    literal "null", which no hex digest can collide with.

    Scale shape: hash-ordered ``repartitionByRange`` (ONE range
    exchange — the hash key is uniform by construction, so ranges
    balance regardless of input skew) and per-partition numbering
    with broadcast offsets via keys.assign_sequential_ids — never a
    global window. The offsets are an in-plan cumulative sum over one
    row-count per range partition, ``spark.sql.shuffle.partitions``
    of them.

    Output: input columns + ``pos_col`` (0-based dense epoch
    position). Ties beyond the 128-bit hash are broken by the key
    columns themselves, keeping the order total and deterministic
    even under md5 collisions."""
    from mongodb_etl_migration_spark.functions import keys as K

    if not key_cols:
        raise ValueError("key_cols must name at least one column")
    # withColumn overwrites silently — an input column named like the
    # temp key would corrupt the permutation, one named pos_col would
    # be clobbered. Refuse loudly (the package's usual guard). Also
    # refuse pos_col == the temp key itself: the ids would be written
    # INTO the ordering column and then dropped, returning a frame
    # with no position column at all (r10 code-review finding).
    if pos_col == "__shuffle_key":
        raise ValueError(
            "pos_col may not be '__shuffle_key' (the internal "
            "ordering column); pass a different pos_col"
        )
    for taken in ("__shuffle_key", pos_col):
        if taken in df.columns:
            raise ValueError(
                f"column {taken!r} already exists in the input; "
                "rename it or pass a different pos_col"
            )
    keyed = df.withColumn(
        "__shuffle_key",
        F.md5(
            F.concat_ws(
                ":",
                F.lit(str(int(seed))),
                *[
                    F.coalesce(
                        F.md5(F.col(c).cast("string")), F.lit("null")
                    )
                    for c in key_cols
                ],
            )
        ),
    )
    numbered = K.assign_sequential_ids(
        keyed,
        id_col=pos_col,
        order_by=["__shuffle_key", *key_cols],
        start=0,
    )
    return numbered.drop("__shuffle_key")


def loader_shards(
    df,
    pos_col: str,
    payload_col: str,
    shard_size: int = 1024,
):
    """Loader-shard MANIFEST over an epoch-ordered sequence stream —
    the last artifact before training I/O: consecutive blocks of
    ``shard_size`` epoch positions form one shard, and each shard
    reports its size, position range, and an ORDER-SENSITIVE content
    digest (md5 over the per-row payload md5s concatenated in epoch
    order) — the receipt a training job checks on resume to prove the
    shard it re-reads is byte-identical to the one it trained on.

    Scale shape: shard id is a pure projection (pos div shard_size);
    ONE exchange (the shard groupBy); per-shard state is shard_size
    (pos, 32-hex) pairs — bounded by the shard size you chose, never
    by the corpus. The digest folds the SORTED collected pairs so it
    is partition-order-independent and engine-exact.

    NULL payloads are INSIDE the digest, not skipped: each row hashes
    a "v:"-prefixed payload or the bare marker "null:" (no real
    payload can alias it through the prefix), because md5(NULL)=NULL
    would silently vanish from the fold — a corrupted/NULL row is
    precisely what a resume receipt must detect, not ignore.

    Output: (shard_id, n_seqs, first_pos, last_pos, shard_digest)."""
    if shard_size < 1:
        raise ValueError("shard_size must be >= 1")
    payload = F.col(payload_col).cast("string")
    row_hash = F.md5(
        F.when(payload.isNull(), F.lit("null:")).otherwise(
            F.concat(F.lit("v:"), payload)
        )
    )
    pairs = df.select(
        F.floor(F.col(pos_col) / shard_size).cast("bigint").alias(
            "shard_id"
        ),
        F.struct(
            F.col(pos_col).cast("bigint").alias("p"),
            row_hash.alias("h"),
        ).alias("s"),
    )
    return pairs.groupBy("shard_id").agg(
        F.count("*").cast("bigint").alias("n_seqs"),
        F.min(F.col("s")["p"]).cast("bigint").alias("first_pos"),
        F.max(F.col("s")["p"]).cast("bigint").alias("last_pos"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda s: s["h"]
                ),
                "",
            )
        ).alias("shard_digest"),
    )


def dedup_spans(
    df,
    id_col: str,
    text_col: str,
    span_tokens: int = 10,
):
    """Sub-document (span-level) exact dedup, C4/CCNet style: segment
    every document into fixed ``span_tokens`` windows, keep each
    distinct span's GLOBALLY FIRST occurrence (min (doc, position)),
    drop every other copy, and reassemble documents from their
    surviving spans — the pass that removes boilerplate headers/
    footers and cross-site copied paragraphs that document-level
    dedup can't see (the documents differ; their spans don't).

    Output: (id_col, clean_text, n_spans_kept, n_spans_total), one
    row per document that keeps at least one span (fully-duplicated
    documents disappear — the C4 behavior).

    100 TB shape: two narrow shuffles — one on the span hash (rows =
    spans, carrying md5 + ids, not text) to pick winners, one on the
    doc id to reassemble. The winner rule min(doc, position) is a
    plain min-aggregate (map-side combinable), not a window over the
    corpus; fixed-width segmentation keeps spans deterministic under
    any partitioning.
    """
    toked = df.select(
        F.col(id_col), F.explode(F.array(tokens(text_col))).alias("_t")
    ).filter(F.size("_t") > 0)
    spans = toked.select(
        F.col(id_col),
        F.explode(
            F.sequence(F.lit(1), F.size("_t"), F.lit(span_tokens))
        ).alias("_s"),
        F.col("_t"),
    ).select(
        F.col(id_col),
        ((F.col("_s") - 1) / span_tokens).cast("bigint").alias("span_idx"),
        F.array_join(F.slice("_t", F.col("_s"), span_tokens), " ").alias(
            "span_text"
        ),
    )
    spans = spans.withColumn("_h", F.md5("span_text"))
    winners = spans.groupBy("_h").agg(
        F.min(F.struct(F.col(id_col), F.col("span_idx"))).alias("_w")
    )
    kept = (
        spans.join(winners, "_h")
        .filter(
            (F.col(f"_w.{id_col}") == F.col(id_col))
            & (F.col("_w.span_idx") == F.col("span_idx"))
        )
        .drop("_h", "_w")
    )
    totals = spans.groupBy(id_col).agg(
        F.count("*").alias("n_spans_total")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("span_idx", "span_text"))
                ),
                lambda s: s["span_text"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("n_spans_kept"),
    )
    return rebuilt.join(totals, id_col)


def decontaminate(
    docs,
    eval_docs,
    id_col: str,
    text_col: str,
    n: int = 8,
):
    """Benchmark decontamination: find training documents that share
    at least one n-token gram with an evaluation set — the standard
    pre-training hygiene step (eval answers leaking into the corpus
    inflate benchmark scores).

    Returns (id_col, n_matched) with one row per CONTAMINATED training
    document; n_matched counts the distinct eval n-grams it contains.
    Join the result back (left anti) to drop, or keep it as a report.

    100 TB shape: eval benchmarks are MB-scale, so their distinct
    n-gram set broadcasts to every executor; the corpus side builds
    grams as a narrow array projection and explodes map-side, the
    broadcast hash join discards non-matching grams BEFORE any
    exchange, and the only shuffle carries matched (doc, gram) rows —
    proportional to the contamination, not the corpus. Real pipelines
    use n of 8–13; lower n trades precision for recall.
    """
    from mongodb_etl_migration_spark.operators.dedup import shingles

    eval_grams = (
        shingles(eval_docs, id_col, text_col, k=n)
        .select("shingle")
        .distinct()
    )
    doc_grams = shingles(docs, id_col, text_col, k=n)
    # shingles() emits DISTINCT grams per doc, so count(*) after the
    # join is exactly "distinct eval grams present in this doc".
    return (
        doc_grams.join(F.broadcast(eval_grams), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_matched"))
    )


def fuzzy_join(
    left,
    right,
    left_col: str,
    right_col: str,
    max_dist: int = 1,
):
    """Blocked fuzzy join: rows match when the edit distance between
    their string keys is ≤ ``max_dist`` — near-miss reconciliation
    (typo'd titles, OCR'd names) as a JOIN, not an all-pairs scan.

    Length-band blocking: ``|len(a) - len(b)| ≤ max_dist`` is a
    NECESSARY condition for ``levenshtein(a,b) ≤ max_dist`` (each edit
    changes length by at most 1), so the block has zero false
    negatives and the result is EXACT. The left side explodes
    2·max_dist+1 candidate length keys, the equi-join on the length
    key bounds candidates by the length-histogram product (never n²),
    and the levenshtein filter confirms. At 100 TB add a second
    necessary-condition block (shared q-gram with count filtering)
    for selectivity on length-homogeneous corpora; the length band is
    the always-correct outer bound.
    """
    lb = F.explode(
        F.sequence(
            F.length(left_col) - F.lit(max_dist),
            F.length(left_col) + F.lit(max_dist),
        )
    )
    lhs = left.withColumn("_band", lb)
    rhs = right.withColumn("_band", F.length(right_col))
    return (
        lhs.join(rhs, "_band")
        .filter(F.levenshtein(F.col(left_col), F.col(right_col)) <= max_dist)
        .drop("_band")
    )


def bloom_bitset(
    grams,
    col: str,
    num_bits: int,
    num_hashes: int = 2,
) -> list[int]:
    """Build a Bloom-filter bitset over a DataFrame of strings,
    distributed: each value sets ``num_hashes`` positions
    (xxhash64(value, seed) masked to the power-of-two ``num_bits``),
    positions fold to (word, mask) pairs and a single ``bit_or``
    aggregation over ``num_bits / 64`` words produces the filter —
    the build shuffles one long per SET WORD, never per value.
    Returns the words as a Python list (num_bits/64 longs) for
    folding into a probe plan; the collect moves num_bits/8 bytes.
    """
    assert num_bits & (num_bits - 1) == 0, "num_bits must be a power of two"
    pos_cols = [
        F.xxhash64(F.col(col), F.lit(j)).bitwiseAND(F.lit(num_bits - 1))
        for j in range(num_hashes)
    ]
    words = (
        grams.select(F.explode(F.array(*pos_cols)).alias("_pos"))
        .select(
            (F.col("_pos") / F.lit(64)).cast("int").alias("_w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(_pos % 64 AS INT))").alias("_m"),
        )
        .groupBy("_w")
        .agg(F.bit_or("_m").alias("_bits"))
        .collect()
    )
    bitset = [0] * (num_bits // 64)
    for r in words:
        bitset[r["_w"]] = r["_bits"]
    return bitset


def bloom_probe(
    value: Column,
    bitset: list[int],
    num_hashes: int = 2,
) -> Column:
    """Membership test against a :func:`bloom_bitset` folded into the
    plan as a literal array<long> — pure codegen'd column arithmetic
    (hash, mask, getbit), no join machinery. May report false
    positives (tunable via bits-per-value), never false negatives."""
    num_bits = len(bitset) * 64
    lit_words = lit_long_array(bitset)  # one py4j call, same array<bigint>
    checks = []
    for j in range(num_hashes):
        pos = F.xxhash64(value, F.lit(j)).bitwiseAND(F.lit(num_bits - 1))
        word = F.element_at(lit_words, (pos / F.lit(64)).cast("int") + F.lit(1))
        checks.append(F.getbit(word, (pos % F.lit(64)).cast("int")) == F.lit(1))
    out = checks[0]
    for c in checks[1:]:
        out = out & c
    return out


def decontaminate_bloom(
    docs,
    eval_docs,
    id_col: str,
    text_col: str,
    n: int = 8,
    bits_per_gram: int = 16,
    num_hashes: int = 2,
):
    """Two-stage benchmark decontamination: a Bloom-filter probe
    prunes the corpus's exploded n-grams to candidates, then the
    exact broadcast join confirms — same EXACT output contract as
    :func:`decontaminate` (the Bloom's false positives die in the
    confirm join; it has no false negatives), so the two are
    interchangeable and oracle-checked against the same SQL.

    Why bother at 100 TB: the raw distinct-gram set of a large eval
    suite broadcast-joins at ~40-60 bytes per gram, while the Bloom
    carries ``bits_per_gram`` BITS per gram (~30x smaller), and the
    probe is plan-literal column arithmetic evaluated inside the scan
    stage — non-candidate grams (the overwhelming majority of the
    corpus) are discarded before any join, so the join machinery only
    ever sees contamination-sized input. With 16 bits/gram and 2
    hashes the false-positive rate is ~1.4%, so the confirm join's
    input is ≈ true contamination × 1.014. The filter build itself is
    distributed (see :func:`bloom_bitset`); only the finished
    num_bits/8-byte bitset ever reaches the driver. Beyond ~100 MB of
    bitset, fold it in via a broadcast variable + pandas_udf probe
    instead of a plan literal (plan-size ceiling, not a correctness
    one).
    """
    from mongodb_etl_migration_spark.operators.dedup import shingles

    eval_grams = (
        shingles(eval_docs, id_col, text_col, k=n)
        .select("shingle")
        .distinct()
    )
    n_grams = eval_grams.count()  # eval-set-sized action (MB-scale)
    num_bits = max(64, 1 << (max(1, n_grams * bits_per_gram) - 1).bit_length())
    bitset = bloom_bitset(eval_grams, "shingle", num_bits, num_hashes)
    doc_grams = shingles(docs, id_col, text_col, k=n)
    candidates = doc_grams.filter(
        bloom_probe(F.col("shingle"), bitset, num_hashes)
    )
    return (
        candidates.join(F.broadcast(eval_grams), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_matched"))
    )


def pack_shards(
    df,
    id_col: str,
    group_col: str,
    text_col: str,
    budget_tokens: int = 100,
):
    """Assign documents to fixed-token-budget shards — the sequence-
    packing step before pre-training tokenization (each shard feeds
    one training sequence / output file).

    Greedy-by-order packing via running prefix sum: within each group
    (shards are naturally per-source/per-partition-key), docs are
    taken in ``id_col`` order and ``shard = tokens_before // budget``
    — a doc may straddle its shard boundary, the standard fixed-size
    chunking approximation (exact first-fit packing is inherently
    sequential). One window per group: partitioned, so at 100 TB the
    cumulative sums run parallel across groups and no global sort
    exists. Output: (id_col, group_col, n_tokens, shard).
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(group_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    toked = df.select(
        F.col(id_col), F.col(group_col), token_count(text_col).alias("n_tokens")
    )
    before = toked.select(
        id_col,
        group_col,
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).alias("_tb"),
    )
    # `div`, not `/` + cast: integer division stays exact at any
    # magnitude (a >2^53-token prefix sum would drift through IEEE
    # double division) and matches the oracle's `//` by construction —
    # the same integer-space rule the sampling gates follow.
    return before.select(
        id_col,
        group_col,
        "n_tokens",
        F.expr(f"_tb div {int(budget_tokens)}").alias("shard"),
    )


def tfidf_top_terms(df, id_col: str, text_col: str, k: int = 3):
    """Top-k characteristic terms per document by tf·idf.

    The idf is the RATIONAL form ``N / df`` (no logarithm): log()
    differs in the last ulp across libm implementations, which would
    break exact cross-engine verification, while tf·N/df is one
    integer product and one IEEE division — bit-identical everywhere
    and rank-equivalent to the log form for ranking within a document
    (log is monotone).

    Plan shape at scale: one shuffle to (doc, term) for tf; the df
    table reuses tf (rows are already distinct (doc, term) pairs — no
    countDistinct); the per-doc top-k window compiles to
    WindowGroupLimit, which takes the k best per doc MAP-SIDE before
    the final per-doc shuffle. No vocabulary broadcast needed — the
    tf⋈df join shuffles on term, the natural key.

    Output: (id_col, term, score) — k rows per doc with ≥k distinct
    terms; ties broken by term ascending for determinism.
    """
    from pyspark.sql import Window

    toks = df.select(F.col(id_col), F.explode(tokens(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    # N is fetched EAGERLY at plan-build time — a deliberate tradeoff:
    # count(*) over parquet is metadata-only (footer reads, no data
    # scan), and folding N as a literal avoids the lazy alternative
    # (crossJoin with a 1-row agg), which plans a
    # BroadcastNestedLoopJoin node. Callers building the plan without
    # ever executing it still pay this one small job.
    n = df.count()
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("term")
    )
    return (
        tf.join(dfreq, "term")
        .select(
            F.col(id_col),
            "term",
            ((F.col("tf") * F.lit(int(n))).cast("double") / F.col("df")).alias(
                "score"
            ),
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    c: Column | str,
    toks: Column | None = None,
    min_words: int = 50,
    max_words: int = 100_000,
) -> dict[str, Column]:
    """Gopher-style document quality rules (Rae et al. 2021, "Scaling
    Language Models" §A1.1) re-expressed as pure Column predicates —
    the standard pre-training quality gate family. Every flag is a
    boolean/integer expression (no floats except two exact IEEE
    divisions), so the whole rule set is hash-exact across engines.

    Returned flags (all lambda-free, codegen'd, zero shuffle):
      n_words        token count
      words_ok       min_words <= n_words <= max_words
      mean_len_ok    mean token length in [3, 10]
      symbol_ok      (# + ellipsis occurrences) / words <= 0.1
      bullet_ok      <= 90% of lines start with a bullet
      stop_ok        >= 2 distinct Gopher stopwords present
      gopher_pass    conjunction of the above

    Real pipelines tune the thresholds; the shape — a dict of named
    predicates the caller selects/combines — is the contract.
    """
    col = F.col(c) if isinstance(c, str) else c
    toks = tokens(c) if toks is None else toks
    n = F.size(toks)
    nd = n.cast("double")
    words_ok = (n >= min_words) & (n <= max_words)
    mtl = mean_token_len(c, toks)
    mean_len_ok = (mtl >= 3.0) & (mtl <= 10.0)
    # symbol-to-word ratio: '#' occurrences + '...' occurrences
    hashes = F.length(col) - F.length(F.replace(col, F.lit("#"), F.lit("")))
    # count non-overlapping '...' runs via regexp (same in DuckDB RE2)
    dots = F.size(F.regexp_extract_all(col, F.lit("\\.\\.\\."), 0))
    symbol_ok = F.when(n > 0, (hashes + dots) / nd <= F.lit(0.1)).otherwise(
        F.lit(False)
    )
    lines = F.split(col, "\n")
    bullet_lines = F.size(
        F.filter(lines, lambda ln: F.trim(ln).startswith("-") | F.trim(ln).startswith("*"))
    )
    bullet_ok = bullet_lines <= F.lit(0.9) * F.size(lines)
    stop_hits = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]))
    )
    stop_ok = stop_hits >= 2
    flags = {
        "n_words": n.cast("bigint"),
        "words_ok": words_ok,
        "mean_len_ok": mean_len_ok,
        "symbol_ok": symbol_ok,
        "bullet_ok": bullet_ok,
        "stop_ok": stop_ok,
    }
    flags["gopher_pass"] = (
        words_ok & mean_len_ok & symbol_ok & bullet_ok & stop_ok
    )
    return flags


def collision_stats(df, id_col: str, text_col: str):
    """Per-document Rényi-2 collision statistics — an exactly-
    verifiable repetitiveness/perplexity proxy that needs no log():
    ``collisions = Σ_w count(w)²`` over the document's tokens. The
    collision PROBABILITY collisions/total² (exp(−H₂), inverse
    perplexity under Rényi order 2) is high for keyword-stuffed or
    looped text and low for diverse text; because both numerator and
    denominator are integers, the score verifies hash-exact where a
    Shannon-entropy score would drift in libm's last ulp.

    Plan shape: THREE chained narrow projections (tokens → distinct +
    per-word counts → fold), each referencing the previous stage's
    materialized column exactly once — higher-order-function lambdas
    sit outside codegen CSE, so inlining them would re-tokenize per
    consumer. Per-row cost is O(tokens × distinct); zero shuffle at
    any scale.

    Output: (id_col, total_tokens, collisions, collision_prob).
    """
    toked = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    counted = toked.select(
        id_col,
        F.size("__toks").cast("bigint").alias("total_tokens"),
        F.transform(
            F.array_distinct("__toks"),
            lambda w: F.size(F.filter(F.col("__toks"), lambda x: x == w)).cast(
                "long"
            ),
        ).alias("__counts"),
    )
    folded = counted.select(
        id_col,
        "total_tokens",
        F.aggregate(
            "__counts", F.lit(0).cast("long"), lambda acc, n: acc + n * n
        ).alias("collisions"),
    )
    return folded.select(
        id_col,
        "total_tokens",
        "collisions",
        F.when(
            F.col("total_tokens") > 0,
            F.col("collisions")
            / (F.col("total_tokens") * F.col("total_tokens")).cast("double"),
        ).alias("collision_prob"),
    )


def inverted_index(
    df,
    id_col: str,
    text_col: str,
    min_df: int = 2,
    max_postings: int = 20,
):
    """Build a term → document posting-list index (the retrieval-side
    companion of tfidf_top_terms).

    PRECONDITION: one row per document (``id_col`` unique). The
    (doc, term) pairs are deduplicated PER-ROW — array_distinct
    BEFORE explode — which is only equivalent to a global distinct
    when a document never spans rows; on a frame with repeated ids
    (chunked corpus, un-deduplicated union) df would overcount and
    postings would repeat. Pre-aggregate such input first.

    Scale design: ONE shuffle total, on term. Because the per-row
    array_distinct replaces the global distinct, no (doc, term)
    exchange or distinct aggregation ever runs; the window and the
    final groupBy then share the single term exchange.
    Posting lists are BOUNDED: a
    row_number over the same partitioning nulls out every doc id past
    the ``max_postings`` smallest, and collect_list skips NULLs, so a
    stopword appearing in every document of a 100 TB corpus
    contributes a fixed-size aggregation buffer, never an unbounded
    array. All rows still FLOW through the shuffle (``df`` must count
    the full posting set pre-trim) — the cap bounds state, not
    traffic; traffic is the distinct (doc, term) set, which is the
    index's irreducible input.

    Output: (term, df, postings) — postings a comma-joined sorted
    capped doc-id list, scalar so the driver hash gate can sort it.
    """
    from pyspark.sql import Window

    pairs = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(text_col))).alias("term"),
    )
    w = Window.partitionBy("term").orderBy(F.asc(id_col))
    trimmed = pairs.withColumn("__rn", F.row_number().over(w))
    return (
        trimmed.groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.array_join(
                F.array_sort(
                    F.collect_list(F.when(F.col("__rn") <= max_postings, F.col(id_col)))
                ),
                ",",
            ).alias("postings"),
        )
        .filter(F.col("df") >= min_df)
        .select("term", F.col("df").cast("bigint").alias("df"), "postings")
    )


def bm25_topk(
    df,
    queries: list[tuple[str, list[str]]],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 10,
    k1_milli: int = 1200,
    b_milli: int = 750,
):
    """BM25 ranked retrieval: top-k documents per query — the
    retrieval rung above inverted_index/tfidf_top_terms that a
    training-data pipeline uses for eval-set decontamination lookups,
    targeted corpus audits, and RAG-corpus curation.

    Okapi BM25 with the engine's RATIONAL-idf substitution
    (tfidf_top_terms' device): idf(t) = (2N − 2df + 1)/(2df + 1) —
    the log's argument with the halves cleared — instead of
    ln((N − df + 0.5)/(df + 0.5) + 1). log() drifts in the last ulp
    across libm implementations; the rational form is integer-exact,
    strictly positive (df ≤ N), per-term rank-equivalent (log is
    monotone), and documented as this engine's scoring variant (the
    cross-TERM sum weights high-idf terms more steeply than the log
    form — a calibration difference, not a correctness bug).

    FIXED-POINT INTEGER SCORING, no floats anywhere: with K = k1·10³,
    B = b·10³, N docs, T total tokens (avgdl = T/N), the per-term
    score in millis is

      score_milli = (1000 · (2N−2df+1) · tf·(K+1000)·1000·T)
                div ((2df+1) · (tf·10⁶·T + K·((1000−B)·T + B·dl·N)))

    evaluated in decimal(38,0) (oracle: HUGEINT) — exact while the
    numerator < 10³⁸, i.e. T·N·tf < ~10³¹: comfortably past a
    100 TB corpus (T ≈ 10¹⁴, N ≈ 10¹¹ needs tf ≲ 10⁶ — a tf that
    large is spam the Gopher gate already dropped). Per-doc scores
    sum as plain BIGINTs.

    Plan shape: the token stream is exploded and shuffled ONCE (the
    (doc, term) tf aggregate, materialized via lazy localCheckpoint
    because three consumers read it); dl and df both derive from tf
    rows (sum per doc / count per term — vocabulary-sized
    re-aggregates, no countDistinct, no second corpus pass); the
    query term list joins as a
    BROADCAST (queries are human-sized); N and T fold in as plan
    literals (metadata count + one 1-row aggregate — tfidf's eager-N
    tradeoff, documented there); the per-query top-k compiles to
    WindowGroupLimit (map-side heads before the final exchange).
    Nothing is quadratic; the only corpus-sized traffic is the token
    stream.

    Single-split tradeoff: with no fan-out repartition, a source with
    ONE input split (an unsplittable file, or a ``coalesce(1)`` frame)
    runs the whole tokenize+explode map side as one task — single-
    threaded until the (doc, term) exchange. The pinned A/B that
    removed the fan-out ran on a many-split corpus; such a source
    should be repartitioned by the caller before the build.

    Output: (query_id, doc_id, score_milli, rn) — k rows per query,
    ties broken by doc_id ascending.
    """
    _bm25_validate(k1_milli, b_milli)
    spark = df.sparkSession
    # NO fan-out here (r15): unlike the gopher/minhash scorers, the
    # tokenize+explode leg is one cheap regexp pass per input byte,
    # and a pinned equal-load A/B (same session, fan-out monkeypatched
    # off, 3 interleaved cycles at sf0.1) showed the round-robin
    # exchange LOSES: OFF [1.684,1.498,1.401,1.34,1.351,1.262] vs
    # ON [2.201,1.901,1.654,1.539,1.477,1.345] — every cycle OFF < ON,
    # +2.17 MB shuffle for nothing (the r14 verdict's open question,
    # settled). The partial aggregation under the (doc, term) exchange
    # already parallelizes the reduce side; per-split map CPU is scan-
    # bound, so extra map parallelism buys nothing (guide §1.2 step 1).
    toks = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    # N is a count over the SOURCE frame on a driver thread (guide
    # §2.6), so the count job and the tf materialization below overlap
    # instead of running back-to-back.
    with DriverThreads(spark) as threads:
        count = threads.start(df.count)
        # tf is the single corpus-sized product; THREE consumers read
        # it (dl, df, and the T-total collect at build time), so
        # materialize it once — without the checkpoint the token
        # explode + (doc, term) exchange would run again for each
        # consumer (the bitext/probe duplicated-subtree lesson, flagged
        # by the r10 review). dl derives FROM tf (sum of tf per doc ==
        # token count), not from a second pass over toks.
        tf = (
            toks.groupBy(id_col, "term")
            .agg(F.count("*").alias("tf"))
            .localCheckpoint(eager=False)
        )
        dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
        dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
        total = int(dl.agg(F.sum("dl")).collect()[0][0] or 0)
    n_docs = count()
    qdf = spark.createDataFrame(
        [(qid, t) for qid, terms in queries for t in terms],
        "query_id string, term string",
    )

    scored_terms = (
        tf.join(F.broadcast(qdf), "term")
        .join(dfreq, "term")
        .join(dl, id_col)
        .select("query_id", F.col(id_col), "tf", "df", "dl")
    )
    return _bm25_rank(
        scored_terms, id_col, n_docs, total, k, k1_milli, b_milli
    )


def _bm25_rank(
    scored_terms,
    id_col: str,
    n_docs: int,
    total: int,
    k: int,
    k1_milli: int,
    b_milli: int,
):
    """Shared BM25 tail: (query_id, id, tf, df, dl) rows → top-k
    (query_id, id, score_milli, rn). The fixed-point algebra and the
    WindowGroupLimit ranking live HERE so bm25_topk (corpus pass) and
    bm25_probe (persisted index) cannot drift apart — probe ≡ topk is
    by shared code, then re-proved by the oracle twin."""
    from pyspark.sql import Window

    def d(c) -> Column:
        return (F.lit(c) if isinstance(c, int) else c).cast(
            "decimal(38,0)"
        )

    kk, bb, nn, tt = k1_milli, b_milli, n_docs, total
    scored = scored_terms.select(
        "query_id",
        F.col(id_col),
        (
            d(1000)
            * (d(2 * nn + 1) - d(2) * d(F.col("df")))
            * (d(F.col("tf")) * d(kk + 1000) * d(1000) * d(tt))
        ).alias("__num"),
        (
            (d(2) * d(F.col("df")) + d(1))
            * (
                d(F.col("tf")) * d(1000000) * d(tt)
                + d(kk)
                * (
                    d(1000 - bb) * d(tt)
                    + d(bb) * d(F.col("dl")) * d(nn)
                )
            )
        ).alias("__den"),
    ).select(
        "query_id",
        id_col,
        F.expr("__num div __den").cast("bigint").alias("sm"),
    )
    per_doc = scored.groupBy("query_id", id_col).agg(
        F.sum("sm").cast("bigint").alias("score_milli")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_milli"), F.asc(id_col)
    )
    return (
        per_doc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select(
            "query_id",
            F.col(id_col).cast("bigint").alias(id_col),
            "score_milli",
            F.col("rn").cast("bigint").alias("rn"),
        )
    )


def _bm25_validate(k1_milli: int, b_milli: int) -> None:
    if not 0 <= b_milli <= 1000 or k1_milli < 0:
        # b > 1 would make (1000 - B) negative and break the
        # all-positive-operands guarantee the exact `div` relies on
        raise ValueError(
            f"b_milli must be in [0, 1000] and k1_milli >= 0; "
            f"got b_milli={b_milli}, k1_milli={k1_milli}"
        )


def md5_hex15_bigint(c: Column | str) -> Column:
    """The engine's portable 60-bit hash: first 15 hex digits of md5
    as BIGINT (Spark conv(hex,16,10) == DuckDB ('0x'||hex)::BIGINT ==
    Python int(hexdigest[:15], 16); md5 over UTF-8 bytes in all
    three). ONE definition shared by the postings bucket, the seeded
    span/FIM draws, and the driver-side twin below, so the
    build-expression / prune-twin / oracle triple cannot drift."""
    c = F.col(c) if isinstance(c, str) else c
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("bigint")


def _term_bucket_py(term: str, n_buckets: int) -> int:
    """Driver-side twin of the postings partition bucket — MUST equal
    ``md5_hex15_bigint(term) % n_buckets``."""
    import hashlib

    h = hashlib.md5(term.encode("utf-8")).hexdigest()
    return int(h[:15], 16) % n_buckets


def postings_from_tf(
    tf,
    id_col: str = "doc_id",
    n_buckets: int | None = None,
    stats=None,
):
    """(id, term, tf) rows → full postings (id, term, tf, dl, df,
    tbucket). This IS the index-maintenance recipe: tf counts are
    additive (the gram_count_index rule), so incremental ingest
    unions a batch's tf rows into the held tf layer, re-sums per
    (id, term), and calls this to re-derive the snapshot-wide dl/df
    — never touching raw text again. dl/df attach as window sums
    over the tf rows (two exchanges, build/maintenance-time only).

    The bucket modulus comes from the index's own ``stats`` frame
    when given (1-row bounded read) — a repeated-literal mismatch
    would write tbucket values inconsistent with the existing
    partitions and the probe's pruning, so when BOTH are passed they
    must agree (refuse loudly, same rule as bm25_probe_indexed)."""
    from pyspark.sql import Window

    if stats is not None:
        built_with = int(stats.collect()[0]["n_buckets"])
        if n_buckets is not None and n_buckets != built_with:
            raise ValueError(
                f"stats says the index was built with n_buckets="
                f"{built_with}, caller passed {n_buckets} — postings "
                f"would land in the wrong partitions"
            )
        n_buckets = built_with
    elif n_buckets is None:
        raise ValueError(
            "postings_from_tf needs n_buckets or the index stats frame"
        )

    return tf.select(
        F.col(id_col),
        "term",
        "tf",
        F.sum("tf").over(Window.partitionBy(id_col)).alias("dl"),
        F.count("*").over(Window.partitionBy("term")).alias("df"),
        (md5_hex15_bigint("term") % n_buckets)
        .cast("int")
        .alias("tbucket"),
    )


def bm25_tf(df, id_col: str = "doc_id", text_col: str = "text"):
    """The (id, term, tf) layer — the ADDITIVE quantity incremental
    BM25 ingest maintains: tf counts for disjoint document batches
    union + re-sum exactly (the gram_count_index rule), after which
    :func:`postings_from_tf` re-derives the snapshot-wide dl/df
    windows and :func:`bm25_stats_merge` folds the 1-row stats. One
    token explode + ONE (doc, term) exchange — and nothing else: the
    r15 pinned A/B on bm25_topk showed the gated fan-out loses for
    this operator's cheap-per-byte tokenize leg (see bm25_topk), so
    neither bm25 build path adds a repartition — and a single-split
    source runs the map side as one task (bm25_topk's single-split
    tradeoff)."""
    toks = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("term")
    )
    return toks.groupBy(id_col, "term").agg(
        F.count("*").cast("bigint").alias("tf")
    )


def bm25_stats_merge(a, b, tf_a=None, tf_b=None, id_col: str = "doc_id"):
    """Additive maintenance of the 1-row BM25 stats table for
    DISJOINT document batches (append-only ingest — a doc id present
    in both sides would double-count N): n_docs and total_dl add;
    n_buckets must MATCH or the merged stats would bless pruning
    against partitions written under a different modulus (refuse
    loudly, the bm25_probe_indexed rule). Two bounded 1-row collects
    — the documented bounded-collect pattern.

    Disjointness is a PRECONDITION this 1-row fold cannot see; pass
    the two sides' tf layers (``tf_a``/``tf_b``) to have it ENFORCED:
    a semi-join count over the distinct doc ids (bounded 1-row
    aggregate, batch-sized shuffle — maintenance-time only) refuses
    loudly on any overlap instead of silently skewing idf/avgdl."""
    if (tf_a is None) != (tf_b is None):
        raise ValueError(
            "pass both tf_a and tf_b (or neither) — the overlap check "
            "needs both sides' tf layers"
        )
    if tf_a is not None:
        overlap = (
            tf_a.select(id_col)
            .distinct()
            .join(tf_b.select(id_col).distinct(), id_col, "semi")
            .count()
        )
        if overlap:
            raise ValueError(
                f"{overlap} doc id(s) appear in BOTH batches — stats "
                "merge is additive and would double-count n_docs/"
                "total_dl; dedupe the batches before merging"
            )
    ra, rb = a.collect()[0], b.collect()[0]
    if int(ra["n_buckets"]) != int(rb["n_buckets"]):
        raise ValueError(
            f"stats disagree on n_buckets ({ra['n_buckets']} vs "
            f"{rb['n_buckets']}) — indexes built with different bucket "
            "moduli cannot merge"
        )
    return a.sparkSession.createDataFrame(
        [
            (
                int(ra["n_docs"]) + int(rb["n_docs"]),
                int(ra["total_dl"]) + int(rb["total_dl"]),
                int(ra["n_buckets"]),
            )
        ],
        "n_docs bigint, total_dl bigint, n_buckets int",
    )


def bm25_index(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    tf=None,
):
    """Materialized BM25 index build: (postings, stats) frames that
    :func:`write_bm25_index` persists and :func:`bm25_probe` joins —
    so repeated retrieval workloads (eval-set decontamination runs,
    corpus audits) stop re-exploding 100 TB of text per query batch.
    The gram_count_index discipline applied to retrieval.

    postings: one row per (doc, term) carrying EVERYTHING the scorer
    needs — (id, term, tf, dl, df, tbucket). dl and df are
    denormalized onto the posting row (one int each) precisely so the
    probe's only corpus-sized input is the matched postings: no
    probe-time join against a corpus-sized dl table or a
    vocabulary-sized df table. tbucket = first 15 hex digits of
    md5(term) as BIGINT mod ``n_buckets`` — the Hive partition
    column; a probe for Q terms reads at most |Q| of the
    ``n_buckets`` directories (real directory pruning, unlike the
    minhash band layout where every doc emits every band).

    stats: ONE row (n_docs, total_dl) — N counts ALL documents
    (zero-token docs carry no postings but still shrink idf), T = sum
    of tf. Both are driver scalars at build time (metadata count +
    one 1-row aggregate over the checkpointed tf — the documented
    bounded-collect pattern from bm25_topk).

    Plan: token explode → ONE (doc, term) exchange for tf
    (localCheckpointed: the postings windows and the T aggregate both
    consume it); dl/df attach as window sums over the tf rows (two
    vocabulary-/corpus-keyed exchanges, build-time only). Maintenance:
    tf counts are additive (union a batch's tf and re-sum, the
    gram_count_index rule) but dl/df/N/T are snapshot-wide, so
    incremental ingest re-derives the windows from the maintained tf
    via :func:`postings_from_tf` — never from raw text (tested:
    maintained index == from-scratch index over the union).
    """
    for reserved in ("term", "tf", "dl", "df", "tbucket"):
        if id_col == reserved:
            raise ValueError(
                f"id_col={id_col!r} collides with an index column"
            )
    spark = df.sparkSession
    # tf may arrive pre-materialized (the maintenance path hands the
    # maintained additive layer here so text is never re-tokenized)
    if tf is None:
        tf = bm25_tf(df, id_col, text_col)
    tf = tf.localCheckpoint(eager=False)
    postings = postings_from_tf(tf, id_col, n_buckets)
    # the count overlaps the tf materialization the T aggregate
    # triggers (guide §2.6; same pattern as bm25_topk)
    with DriverThreads(spark) as threads:
        count = threads.start(df.count)
        total = int(tf.agg(F.sum("tf")).collect()[0][0] or 0)
    n_docs = count()
    # n_buckets rides IN the stats row: the probe's partition pruning
    # is only correct against the bucket count the postings were
    # written with, so the index self-describes it rather than
    # trusting the prober to repeat the build parameter
    stats = spark.createDataFrame(
        [(n_docs, total, n_buckets)],
        "n_docs bigint, total_dl bigint, n_buckets int",
    )
    return postings, stats


def write_bm25_index(
    df,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
    mode: str = "overwrite",
) -> None:
    """Persist the BM25 index under ``path``: ``postings/`` Hive-
    partitioned by tbucket (probe prunes to the query terms'
    buckets), ``stats/`` as the 1-row N/T table."""
    postings, stats = bm25_index(df, id_col, text_col, n_buckets)
    postings.write.mode(mode).partitionBy("tbucket").parquet(
        f"{path}/postings"
    )
    stats.write.mode(mode).parquet(f"{path}/stats")


def bm25_probe(
    postings,
    stats,
    queries: list[tuple[str, list[str]]],
    id_col: str = "doc_id",
    k: int = 10,
    k1_milli: int = 1200,
    b_milli: int = 750,
):
    """BM25 retrieval against a prebuilt index — output-identical to
    :func:`bm25_topk` on the corpus the index was built from (shared
    ``_bm25_rank`` tail; re-proved by the t_bm25_probe oracle twin).
    The raw corpus is NEVER touched: one broadcast join of the
    human-sized query terms against the postings, then the shared
    aggregate + WindowGroupLimit tail. N/T come from the 1-row stats
    table (bounded collect)."""
    _bm25_validate(k1_milli, b_milli)
    spark = postings.sparkSession
    srow = stats.collect()[0]
    n_docs, total = int(srow["n_docs"]), int(srow["total_dl"])
    qdf = spark.createDataFrame(
        [(qid, t) for qid, terms in queries for t in terms],
        "query_id string, term string",
    )
    scored_terms = postings.join(F.broadcast(qdf), "term").select(
        "query_id", F.col(id_col), "tf", "df", "dl"
    )
    return _bm25_rank(
        scored_terms, id_col, n_docs, total, k, k1_milli, b_milli
    )


def bm25_probe_indexed(
    spark,
    path: str,
    queries: list[tuple[str, list[str]]],
    id_col: str = "doc_id",
    k: int = 10,
    k1_milli: int = 1200,
    b_milli: int = 750,
    n_buckets: int | None = None,
):
    """:func:`bm25_probe` against the PERSISTED index written by
    :func:`write_bm25_index`. Prunes the postings scan to the query
    terms' tbucket partitions before the join — the driver-side
    bucket hash is the exact twin of the build expression
    (``_term_bucket_py``), so pruning can never drop a matching
    posting. The bucket count comes from the index's OWN stats row
    (the build persists it); passing ``n_buckets`` explicitly is a
    cross-check that REFUSES on mismatch — a wrong modulus would
    prune away matching partitions and return silently wrong top-k,
    the failure mode the self-description exists to prevent."""
    stats = spark.read.parquet(f"{path}/stats")
    built_with = int(stats.collect()[0]["n_buckets"])
    if n_buckets is not None and n_buckets != built_with:
        raise ValueError(
            f"index at {path} was built with n_buckets={built_with}, "
            f"probe asked for {n_buckets} — pruning would be wrong"
        )
    buckets = sorted(
        {
            _term_bucket_py(t, built_with)
            for _, terms in queries
            for t in terms
        }
    )
    postings = spark.read.parquet(f"{path}/postings").filter(
        F.col("tbucket").isin(buckets)
    )
    return bm25_probe(
        postings, stats, queries, id_col, k, k1_milli, b_milli
    )


def bigrams_array(c: Column | str, toks: Column | None = None) -> Column:
    """Adjacent-token bigrams as 'a b' strings — zip_with over the
    token array and its tail (narrow, no UDF, no explode until the
    caller asks for rows)."""
    toks = tokens(c) if toks is None else toks
    n1 = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, n1),
        F.slice(toks, 2, n1),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def gram_run_stats(sorted_grams: Column) -> Column:
    """struct(top long, dup long) over a SORTED gram array in ONE
    O(L) fold — the Gopher §A1.1 repetition core:

      top  max over equal-value runs of run_len * len(gram): the
           characters covered by the most frequent n-gram
      dup  sum of len(gram) over every occurrence AFTER a run's
           first: the characters inside duplicated n-grams
           (Rae et al. count each repeat's chars once, first
           occurrence free — the find_duplicates convention)

    Sorting groups equal grams into maximal runs, so one adjacent-
    equality pass replaces the O(distinct x all) count-per-distinct
    shape — O(L log L) total per row instead of O(L^2), zero
    shuffle, still pure codegen Columns."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("top"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(acc: Column, g: Column) -> Column:
        same = acc["prev"].isNotNull() & (acc["prev"] == g)
        run = F.when(same, acc["run"] + 1).otherwise(F.lit(1).cast("long"))
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.greatest(acc["top"], run * F.length(g).cast("long")).alias(
                "top"
            ),
            (
                acc["dup"]
                + F.when(same, F.length(g).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
            ).alias("dup"),
        )

    return F.aggregate(
        sorted_grams,
        init,
        step,
        lambda acc: F.struct(
            acc["top"].alias("top"), acc["dup"].alias("dup")
        ),
    )


def rare_bigram_stats(df, id_col: str, text_col: str, min_count: int = 10):
    """Count-LM surprisal proxy: per document, the fraction of its
    bigrams whose CORPUS frequency is below ``min_count``. This is the
    integer-exact core of KenLM-style quality filtering — a document
    full of bigrams the corpus has never seen is either novel or
    garbage, and pre-training pipelines gate on exactly this signal
    (perplexity is a log-weighted version of the same counts; the
    rare-fraction form verifies hash-exact, no log()).

    Plan shape: corpus counts ride a window (count over partition by
    bigram) instead of a groupBy + self-join — ONE scan of the corpus
    and one bigram exchange, then the per-doc rollup reshuffles the
    same rows by id. A left join back to the id spine re-admits
    documents with <2 tokens (zero bigrams). Shuffle volume is the
    exploded bigram set both times — the irreducible input of any
    count-LM build.
    """
    from pyspark.sql import Window

    grams = df.select(
        F.col(id_col), F.explode(bigrams_array(text_col)).alias("bigram")
    )
    counted = grams.withColumn(
        "__cnt", F.count("*").over(Window.partitionBy("bigram"))
    )
    per_doc = counted.groupBy(id_col).agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.sum(F.when(F.col("__cnt") < min_count, 1).otherwise(0))
        .cast("bigint")
        .alias("n_rare"),
    )
    return (
        df.select(id_col)
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
            F.coalesce("n_rare", F.lit(0)).alias("n_rare"),
            F.when(
                F.coalesce(F.col("n_bigrams"), F.lit(0)) > 0,
                F.col("n_rare") / F.col("n_bigrams").cast("double"),
            ).alias("rare_ratio"),
        )
    )


def _kgram_rows(df, id_col: str, text_col: str, k: int):
    """Rolling k-gram fingerprint rows shared by the ExactSubstr
    family: one md5 per token position over the tokenized text —
    (id_col, pos 1-based, _whash). Narrow per-row transform, no
    exchange; documents shorter than k tokens emit nothing."""
    toks = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    n = F.size("_t")
    return toks.filter(n >= k).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), n - (k - 1)),
                lambda s: F.md5(
                    F.array_join(F.slice(F.col("_t"), s, k), " ")
                ),
            )
        ).alias("_p0", "_whash"),
    ).select(F.col(id_col), (F.col("_p0") + 1).alias("pos"), "_whash")


def _merge_span_islands(dup, id_col: str):
    """Gaps-and-islands merge shared by BOTH ExactSubstr passes:
    ``dup`` carries (id_col, pos, _end) duplicated token positions
    with their covered-interval ends; overlapping/adjacent intervals
    (gap <= 1 token) merge into maximal per-document spans. Two
    window functions over the single per-document position exchange.
    Output: (id_col, span_start, span_end, span_tokens), 1-based
    inclusive."""
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max("_end").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = dup.withColumn(
        "_new",
        F.when(
            prev_end.isNull() | (F.col("pos") > prev_end + 1), 1
        ).otherwise(0),
    ).withColumn(
        "_g", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        flagged.groupBy(id_col, "_g")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            F.max("_end").cast("bigint").alias("span_end"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )


def exact_substr_spans(
    df,
    id_col: str,
    text_col: str,
    *,
    k_tokens: int | None = None,
    min_bytes: int | None = None,
    min_count: int = 2,
):
    """ONE entry point for ExactSubstr duplicated-span detection —
    picks the k-gram or character-threshold pass by which floor you
    pass (exactly one of ``k_tokens`` / ``min_bytes``).

    Choosing between them is about THRESHOLD SEMANTICS, not cost —
    per token position both build and hash one bounded string, the
    k-gram pass O(k·avg_token_len) chars, the byte pass O(min_bytes),
    and at typical English token lengths k=8 ≈ 48 chars ≈ the 50-byte
    line, so the two are the same cost class with identical plan
    shapes (narrow per-position transform, ONE fingerprint exchange,
    shared island merge). MEASURED, not just argued: over the
    identical x10 synthetic corpus (55k docs) the byte pass costs
    1.11x the k-gram pass's fingerprint-exchange bytes and 0.98x its
    wall (BENCH_scale.json summary.exactsubstr_crossover_x10), and
    both passes hold 10±0.5x shuffle growth across the x10→x100
    decade (t_dup_spans 10.26, t_dup_spans_exact 10.33):

    - ``k_tokens``: a TOKEN floor. Duplicated runs shorter than k
      tokens are invisible by construction — the right knob when the
      target is long boilerplate and you want the floor expressed in
      tokens (cheap to tighten: the transform stays one hash per
      position at any k).
    - ``min_bytes``: Lee et al. 2022's published CHARACTER floor
      (50 bytes). Catches the few-long-token duplicates a token
      floor structurally misses (a 5-token/65-char run at k=8), and
      correctly IGNORES many-short-token runs under the byte line
      that a small k would flag. Use it to match the paper's
      behavior bit-for-bit.
    """
    if (k_tokens is None) == (min_bytes is None):
        raise ValueError("pass exactly one of k_tokens / min_bytes")
    if k_tokens is not None:
        return duplicated_spans(
            df, id_col, text_col, k=k_tokens, min_count=min_count
        )
    return duplicated_spans_exact(
        df, id_col, text_col, min_bytes=min_bytes, min_count=min_count
    )


def duplicated_spans(
    df,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
):
    """ExactSubstr-style duplicated-span detection (the signal behind
    Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better"): every run of ``k`` consecutive tokens whose
    fingerprint occurs at least ``min_count`` times ACROSS THE CORPUS
    (including repeats within one document) marks a duplicated
    window; overlapping/adjacent duplicated windows merge into
    maximal per-document token spans — the regions an ExactSubstr
    pass would cut. Complements the ladder's other rungs: span_dedup
    keeps one copy of exact fixed windows, MinHash finds whole-doc
    near-dups; this finds the COPIED REGIONS inside otherwise-unique
    documents (boilerplate, quoted text, licensing headers).

    Plan shape: rolling k-gram fingerprints are a narrow per-row
    transform (one md5 per token position — the irreducible input of
    any substring-dedup build); corpus counts ride a window over the
    fingerprint exchange exactly like rare_bigram_stats (no
    groupBy + self-join); the island merge is two window functions
    over the per-document position exchange. Integer-exact
    throughout, so the oracle reproduces spans bit-for-bit.

    DETECTION BOUND (vs. suffix-array ExactSubstr): ``k`` is the
    minimum duplicate length — a duplicated run SHORTER than k tokens
    produces no k-window and is invisible by construction (planted
    and pinned in the t_dup_spans oracle), and boundaries are
    token-aligned (character-level matches crossing token boundaries
    round inward to whole tokens). Lee et al.'s suffix-array build
    uses a 50-BYTE threshold; duplicated_spans_exact implements that
    character threshold exactly (per-position suffix-prefix
    fingerprints — no token-count floor), and a smaller ``k`` remains
    the cheap knob here — the gram transform stays one md5 per token
    position at any k, so tightening the bound costs nothing in plan
    shape.
    Reported spans are maximal UNIONS of qualifying windows, so a
    span's length is always ≥ k and its content duplicated
    window-wise, not necessarily as one contiguous corpus-wide match.

    Output: (id_col, span_start, span_end, span_tokens) — 1-based
    inclusive token positions of each merged duplicated span.
    """
    from pyspark.sql import Window

    grams = _kgram_rows(df, id_col, text_col, k)
    counted = grams.withColumn(
        "__cnt", F.count("*").over(Window.partitionBy("_whash"))
    )
    dup = counted.filter(F.col("__cnt") >= min_count).select(
        F.col(id_col),
        "pos",
        (F.col("pos") + (k - 1)).alias("_end"),  # fixed width
    )
    return _merge_span_islands(dup, id_col)


def span_attribution(
    df,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
):
    """Duplicate-span ATTRIBUTION: for every document carrying
    duplicated k-gram windows, WHICH document it shares them with —
    the provenance report behind an ExactSubstr cut (who copied whom /
    which shard seeded the boilerplate / is the eval set leaking in).

    Scale discipline: a window fingerprint shared by m documents has
    m(m-1)/2 pairs — quadratic per hot fingerprint (site-wide
    boilerplate makes m huge). Instead every duplicated window
    attributes to the fingerprint's corpus-FIRST occurrence (min id):
    m-1 pairs per fingerprint, LINEAR in occurrences, same
    global-first-wins convention as span_dedup. Within-document
    repeats (id == source) carry no cross-doc information and are
    excluded.

    Plan: the k-gram fingerprint stage shared with duplicated_spans,
    corpus count + min-id over ONE fingerprint exchange (two window
    functions, no self-join), then one (src, dst) groupBy — two
    exchanges total, output bounded by duplicated windows. Output:
    (src_doc = corpus-first id, dst_doc, n_windows bigint shared)."""
    from pyspark.sql import Window

    grams = _kgram_rows(df, id_col, text_col, k)
    w = Window.partitionBy("_whash")
    counted = grams.select(
        F.col(id_col),
        "_whash",
        F.count("*").over(w).alias("__cnt"),
        F.min(id_col).over(w).alias("__src"),
    )
    return (
        counted.filter(
            (F.col("__cnt") >= min_count) & (F.col(id_col) != F.col("__src"))
        )
        .groupBy(
            F.col("__src").alias("src_doc"), F.col(id_col).alias("dst_doc")
        )
        .agg(F.count("*").cast("bigint").alias("n_windows"))
    )


def gram_count_index(df, id_col: str, text_col: str, k: int = 8):
    """Corpus k-gram fingerprint COUNTS — (``_whash``, ``idx_cnt``) —
    the persistent index behind incremental ExactSubstr: fingerprint
    the historical corpus ONCE, then each ingest batch probes the
    counts instead of re-hashing 100 TB. One exchange (the fingerprint
    groupBy); persist as parquet and maintain by unioning
    batch counts in (counts are additive): ``index ∪ batch-counts``
    re-summed per hash equals a from-scratch index over the union
    corpus row-for-row, and probes against the maintained index
    match from-scratch probes exactly — pinned end-to-end (including
    the stale-index miss the update exists to prevent) by
    test_gram_count_index_incremental_maintenance."""
    return (
        _kgram_rows(df, id_col, text_col, k)
        .groupBy("_whash")
        .agg(F.count("*").cast("bigint").alias("idx_cnt"))
    )


def duplicated_spans_probe(
    new_df,
    index_counts,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
):
    """INCREMENTAL ExactSubstr: duplicated spans of a NEW batch
    against (batch ∪ historical corpus), where the corpus appears
    only as its gram_count_index — the continuous-ingestion form of
    duplicated_spans (same k-gram fingerprints, same island merge, so
    batch and incremental spans agree by construction).

    A window is duplicated when its batch-internal occurrence count
    plus its indexed corpus count reaches ``min_count`` — a window
    seen once here and once in history is exactly as duplicated as
    two local copies. Plan shape: only the batch is tokenized/hashed,
    and only ONCE — the gram frame is lazily localCheckpoint'ed
    before fanning out to the windowed counts and the broadcast probe
    keys; batch counts ride one fingerprint exchange. The corpus-sized
    index must never shuffle, and a plain LEFT join cannot deliver
    that (Spark can only BUILD the right side of a LeftOuter join, so
    the index would be the build/shuffle side at scale) — instead the
    index is first reduced by an INNER join against the BROADCAST
    distinct batch fingerprints (a legal build side), which cuts it
    to ~|batch| matched rows, and only that reduction joins back.
    The index is SCANNED once, shuffled never; both joins broadcast
    batch-derived relations, so driver/broadcast state is bounded by
    the batch's distinct fingerprints (size ingest batches
    accordingly — the neardup_probe discipline). Output: per-BATCH-
    doc (id_col, span_start, span_end, span_tokens)."""
    from pyspark.sql import Window

    # LAZY localCheckpoint (the §2.9 fan-out discipline): grams feeds
    # BOTH the windowed batch counts and the broadcast probe keys, and
    # without materialization each consumer would re-tokenize and
    # re-hash the batch — the docstring's single-pass claim would lie.
    grams = _kgram_rows(new_df, id_col, text_col, k).localCheckpoint(
        eager=False
    )
    counted = grams.withColumn(
        "__bcnt", F.count("*").over(Window.partitionBy("_whash"))
    )
    batch_hashes = grams.select("_whash").distinct()
    matched = index_counts.select("_whash", "idx_cnt").join(
        F.broadcast(batch_hashes), "_whash"
    )
    joined = counted.join(F.broadcast(matched), "_whash", "left")
    dup = joined.filter(
        F.col("__bcnt") + F.coalesce(F.col("idx_cnt"), F.lit(0))
        >= min_count
    ).select(
        F.col(id_col),
        "pos",
        (F.col("pos") + (k - 1)).alias("_end"),
    )
    return _merge_span_islands(dup, id_col)


def duplicated_spans_exact(
    df,
    id_col: str,
    text_col: str,
    min_bytes: int = 50,
    min_count: int = 2,
):
    """EXACT ExactSubstr detection at Lee et al. 2022's own
    CHARACTER threshold (50 bytes), closing duplicated_spans' k-gram
    bound: that operator's minimum duplicate length is k TOKENS, so
    a 5-long-token duplicated run (65 chars — well past the paper's
    50-byte line) is invisible at k=8. Here every token position
    fingerprints the first ``min_bytes`` CHARACTERS of its suffix
    (tokens joined by single spaces — the normalized-stream
    equivalent of the paper's raw bytes; matches stay token-aligned,
    the documented boundary convention): two positions share a
    fingerprint iff their suffixes agree for >= min_bytes chars,
    which is precisely the sorted-suffix-array adjacency test with
    the sort replaced by a hash exchange. A position whose remaining
    suffix is shorter than min_bytes cannot START a qualifying
    match and is excluded (it can still be COVERED by a span that
    starts earlier).

    Span coverage is variable-width: position p covers exactly the
    tokens whose FIRST OWN CHARACTER lies inside the min_bytes
    window (a token is counted iff its preceding separator falls
    within the window's first min_bytes-1 characters — a window
    ending ON a joining space does NOT pull in the next token, which
    contributed no characters to the fingerprint). So a long-token
    tail yields a short span and a short-token run a long one.
    Overlapping/adjacent covered intervals merge into maximal spans
    exactly like the k-gram operator.

    Plan shape (identical scale class to duplicated_spans): each
    position builds its window string ONCE inside the transform
    lambda (substring(join(slice), 1, B) — O(min_bytes) per
    position, no prefix-sum array, no O(n^2) term); hash, length
    gate, and token-coverage count derive from that staged string in
    the post-explode projections (lambda bodies sit outside codegen
    CSE — see the package CSE discipline). Then ONE fingerprint
    exchange (count window, no self-join) and the per-document
    island merge. Output: (id_col, span_start, span_end,
    span_tokens), 1-based inclusive token positions."""
    from pyspark.sql import Window

    if min_bytes < 1:
        raise ValueError("min_bytes must be >= 1")
    B = int(min_bytes)
    toks = df.select(F.col(id_col), tokens(text_col).alias("_t"))
    n = F.size("_t")

    # The first B chars of the suffix join starting at token p. A
    # B-char window touches at most B tokens (every token adds >= 1
    # char + a joining space), so the B-token slice bounds the
    # string build; substring caps the join at B chars, and its
    # length reaching B is exactly the "suffix has >= min_bytes
    # chars" start-qualification test (B tokens joined are always
    # >= 2B-1 chars; fewer tokens joined give the true suffix
    # length).
    window_str = F.transform(
        F.sequence(F.lit(1), n),
        lambda p: F.substring(
            F.array_join(F.slice(F.col("_t"), p, B), " "), 1, B
        ),
    )
    pos_rows = (
        toks.filter(n >= 1)
        .select(F.col(id_col), F.posexplode(window_str).alias("_p0", "_w"))
        .filter(F.length("_w") == B)
        .select(
            F.col(id_col),
            (F.col("_p0") + 1).alias("pos"),
            F.md5("_w").alias("_whash"),
            # tokens covered = 1 + separators whose following token
            # still STARTS inside the window = spaces in the first
            # B-1 chars (a space at char B means the next token
            # starts outside; splitting the prefix on single spaces
            # counts pieces = spaces + 1)
            F.size(F.split(F.substring("_w", 1, B - 1), " "))
            .cast("long")
            .alias("_c"),
        )
        .select(
            F.col(id_col),
            "pos",
            "_whash",
            (F.col("pos") + F.col("_c") - 1).alias("_end"),
        )
    )
    counted = pos_rows.withColumn(
        "__cnt", F.count("*").over(Window.partitionBy("_whash"))
    )
    dup = counted.filter(F.col("__cnt") >= min_count).select(
        F.col(id_col), "pos", "_end"
    )
    return _merge_span_islands(dup, id_col)


# Integer weights for the linear quality classifier below. Real
# pipelines train ~1M hashed-bigram weights (fastText); the shape —
# a (term, weight) relation broadcast against exploded tokens — is
# identical at that size, only the table is bigger. Integer weights
# (milli-units if trained floats must be quantized) keep the margin
# hash-exact across engines.
QUALITY_CLASSIFIER_WEIGHTS: dict[str, int] = {
    "data": 3,
    "query": 3,
    "vector": 2,
    "stream": 2,
    "spark": 2,
    "merge": 1,
    "slow": -3,
    "small": -3,
    "dup": -8,
    "a": -2,
    "the": -2,
}


def classifier_margin(
    df,
    id_col: str,
    text_col: str,
    weights: dict[str, int] | None = None,
    bias: int = 0,
):
    """fastText-style linear quality-classifier INFERENCE (Joulin et
    al. 2016; the CCNet/GPT-3 "wiki-reference" curation gate): margin
    = bias + Σ_tokens weight(token), keep = margin > 0. This is the
    model-based filtering step every pre-training corpus runs after
    the rule-based (Gopher) gates; training happens offline — the
    engine's job is scoring billions of documents against a fixed
    weight table.

    Scale shape (the general path — works for ~1M-term vocabularies):
    tokens explode, inner-join the BROADCAST weight relation (out-of-
    vocabulary tokens drop in the join, contributing 0), one map-side-
    combinable sum per document. A weight-0 SENTINEL term (empty
    string — the tokenizer can never produce it) is prepended to every
    document's token array and seeded into the weight table, so every
    document survives the inner join and zero-hit documents score
    ``bias`` WITHOUT a join back onto the id spine — that spine join
    would be a second full-corpus exchange (SortMergeJoin at scale),
    vs. the sentinel's one extra row per document through the
    existing aggregate. The per-document sum is the plan's ONLY
    exchange; the weight table never shuffles. For small vocabularies
    `classifier_margin_inline` folds the same margin in a single
    zero-shuffle expression — the two agree bit-for-bit (tested).

    Output: (id_col, margin bigint, keep boolean).
    """
    weights = QUALITY_CLASSIFIER_WEIGHTS if weights is None else weights
    if "" in weights:
        # the sentinel term IS the empty string; a user table carrying
        # '' would join every document's sentinel twice and shift all
        # margins — reject instead of silently double-counting
        raise ValueError("weights must not contain the empty-string term")
    spark = df.sparkSession
    w = spark.createDataFrame(
        sorted(weights.items()) + [("", 0)], "term string, weight long"
    )
    tok = df.select(
        F.col(id_col),
        F.explode(
            # NULL text tokenizes to NULL; coalesce so the sentinel
            # still emits and the document scores bias instead of
            # vanishing from the gate (the oracle's LEFT JOIN keeps it)
            F.concat(
                F.array(F.lit("")),
                F.coalesce(
                    tokens(text_col), F.array().cast("array<string>")
                ),
            )
        ).alias("term"),
    )
    summed = (
        tok.join(F.broadcast(w), "term")
        .groupBy(id_col)
        .agg(F.sum("weight").alias("__sw"))
    )
    margin = (F.col("__sw") + F.lit(bias)).cast("bigint")
    return summed.select(
        id_col,
        margin.alias("margin"),
        (margin > 0).alias("keep"),
    )


def classifier_margin_inline(
    c: Column | str,
    toks: Column | None = None,
    weights: dict[str, int] | None = None,
    bias: int = 0,
) -> Column:
    """Zero-shuffle twin of `classifier_margin` for SMALL vocabularies
    (≲ thousands of terms): the weight table becomes a literal MAP and
    the margin folds over the token array inside whole-stage codegen —
    no explode, no join, no exchange. Use this form when the vocab
    fits a literal; the broadcast-join form when it doesn't."""
    weights = QUALITY_CLASSIFIER_WEIGHTS if weights is None else weights
    toks = tokens(c) if toks is None else toks
    # NULL text tokenizes to a NULL array, which F.aggregate would
    # propagate to a NULL margin — coalesce to empty so this path
    # scores NULL docs as `bias`, bit-for-bit with classifier_margin's
    # sentinel handling
    toks = F.coalesce(toks, F.array().cast("array<string>"))
    entries: list[Column] = []
    for term, wt in sorted(weights.items()):
        entries += [F.lit(term), F.lit(int(wt)).cast("long")]
    wmap = F.create_map(*entries)
    return F.aggregate(
        toks,
        F.lit(int(bias)).cast("long"),
        lambda acc, t: acc + F.coalesce(F.element_at(wmap, t), F.lit(0)),
    )


# Byte-pair-encoding merge table (rank order = training order; a
# symbol created by merge k only ever appears in merges of rank > k).
# Real vocabularies carry ~50k merges; this table is sized so the
# whole hierarchy (char pairs -> multi-char symbols -> word pieces)
# is exercised and the compiled merge chain stays readable.
BPE_MERGES: list[tuple[str, str]] = [
    ("t", "a"),
    ("b", "l"),
    ("e", "r"),
    ("ta", "bl"),
    ("tabl", "e"),
    ("q", "u"),
    ("qu", "er"),
    ("quer", "y"),
    ("j", "o"),
    ("jo", "i"),
    ("joi", "n"),
    ("s", "c"),
    ("sc", "a"),
    ("sca", "n"),
    ("d", "a"),
    ("da", "ta"),
]

# Exhaustive-per-rank application needs repeated flat-string passes
# only where a replacement consumes the shared delimiter of an
# immediately following occurrence ("e r e r" with merge (e,r)); each
# pass merges at least every other remaining occurrence, so 4 passes
# cover runs far longer than any [a-z0-9]+ word here (property-tested
# against the list-based reference implementation).
_BPE_PASSES = 4


def bpe_apply_reference(
    word: str,
    merges: list[tuple[str, str]] | None = None,
    rank: dict[tuple[str, str], int] | None = None,
) -> list[str]:
    """Plain-Python reference BPE encoder (the classic lowest-rank-
    first greedy loop, list-based) — the ground truth the compiled
    merge chain and the pandas-UDF path are both property-tested
    against. Driver-side only; never called in a plan. Callers
    encoding MANY words against a production-sized vocabulary pass
    ``rank`` precomputed — rebuilding a 50k-entry dict per pretoken
    dominated the real-vocab receipt's first run (BENCH_sft_vocab)."""
    merges = BPE_MERGES if merges is None else merges
    if rank is None:
        rank = {pair: i for i, pair in enumerate(merges)}
    toks = list(word)
    while len(toks) > 1:
        best = None
        for i in range(len(toks) - 1):
            r = rank.get((toks[i], toks[i + 1]))
            if r is not None and (best is None or r < best[0]):
                best = (r, i)
        if best is None:
            break
        a, b = merges[best[0]]
        # merge ALL occurrences of the chosen pair, leftmost first
        out: list[str] = []
        i = 0
        while i < len(toks):
            if i + 1 < len(toks) and toks[i] == a and toks[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(toks[i])
                i += 1
        toks = out
    return toks


def _validate_flat_merges(merges: list[tuple[str, str]]) -> None:
    """The compiled replace-chain is EXACTLY the greedy BPE loop only
    for duplicate-free tables whose pairs have left ≠ right
    (adversarially fuzz-verified): a SELF-pair like ('a','a') makes
    non-overlapping string replacement pair a run's tokens
    differently than leftmost-rescan list merging ('aaaaa' →
    [aa,a,aa] vs [aa,aa,a] — same multiset, but a later sequence-
    sensitive merge can then diverge), and a duplicate pair makes
    rank itself ambiguous. Real tables CAN contain self-pairs
    (run-heavy vocabularies), so reject loudly here instead of
    silently mis-tokenizing."""
    seen = set()
    for a, b in merges:
        if a == b:
            raise ValueError(
                f"self-pair merge ({a!r},{b!r}): the compiled merge-chain "
                "path cannot reproduce greedy run pairing"
            )
        if (a, b) in seen:
            raise ValueError(f"duplicate merge ({a!r},{b!r})")
        seen.add((a, b))


def bpe_encoded_word_sql(
    inp: str, merges: list[tuple[str, str]] | None = None
) -> str:
    """Compile the BPE merge table into a SQL fragment over the
    fragment ``inp`` (typically a lambda variable): the word becomes a
    space-delimited symbol string (leading + trailing space pin the
    boundaries), then each merge in RANK ORDER becomes
    ``replace(s, ' a b ', ' ab ')`` repeated ``_BPE_PASSES`` times
    (exhaustive application; see the rank-order equivalence note on
    BPE_MERGES). For duplicate-free, self-pair-free tables this is
    EXACTLY the greedy lowest-rank loop (rank-order argument +
    adversarial fuzz over random tables); other tables are rejected
    by ``_validate_flat_merges``. Zero shuffle, zero UDF, whole-stage
    codegen — for merge tables that fit an expression (~tens)."""
    merges = BPE_MERGES if merges is None else merges
    _validate_flat_merges(merges)
    s = f"concat(' ', regexp_replace({inp}, '(.)', '$1 '))"
    for a, b in merges:
        pat, rep = _sql_str(f" {a} {b} "), _sql_str(f" {a}{b} ")
        for _ in range(_BPE_PASSES):
            s = f"replace({s}, {pat}, {rep})"
    return s


def bpe_token_count(
    c: str,
    toks: str | None = None,
    merges: list[tuple[str, str]] | None = None,
) -> Column:
    """Per-document REAL BPE token count — the budgeting number every
    pre-training pipeline reports (approx_bpe_token_count is the
    cheap regex proxy; this one runs the actual merge table). ``c``
    names the text column; ``toks`` optionally names an already
    materialized :func:`tokens` array of it. Encoded word carries
    leading+trailing delimiters, so its token count is
    (#spaces - 1); the document total folds over the token array in
    one codegen'd expression — zero shuffle at any scale."""
    toks_sql = (
        f"regexp_extract_all(lower({sql_ident(c)}), {_sql_str(TOKEN_RE)}, 0)"
        if toks is None
        else sql_ident(toks)
    )
    # encode in one transform, THEN fold lengths: higher-order lambdas
    # are outside codegen CSE, so referencing the encoded string twice
    # inside one lambda would run the whole replace chain twice per
    # word — staging through the array element makes it a cheap ref
    enc = (
        f"transform({toks_sql}, "
        f"__bw -> {bpe_encoded_word_sql('__bw', merges)})"
    )
    return F.expr(
        f"aggregate({enc}, cast(0 as bigint), (__acc, __s) -> __acc + "
        f"cast(length(__s) - length(replace(__s, ' ', '')) - 1 as bigint))"
    )


# ---------------------------------------------------------------------------
# Byte-level BPE (GPT-2 family): published merges.txt format, the
# bytes_to_unicode alphabet, and the GPT-2 pretokenizer regex.
# ---------------------------------------------------------------------------

# The published GPT-2 pretokenization pattern (Radford et al. 2019;
# openai/gpt-2 encoder.py). Java regex runs it verbatim (\p{L}/\p{N}
# classes + the (?!\S) lookahead); note Java's \s is ASCII-only where
# the regex module's is Unicode — identical on ASCII text, which is
# this Column path's documented scope (the reference scanner below
# mirrors the Java semantics exactly, so the batch and Column paths
# always agree with EACH OTHER).
GPT2_PRETOKEN_RE = (
    "'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+|"
    " ?[^\\s\\p{L}\\p{N}]+|\\s+(?!\\S)|\\s+"
)

_GPT2_CONTRACTIONS = ("'s", "'t", "'re", "'ve", "'m", "'ll", "'d")


def gpt2_bytes_to_unicode() -> dict[int, str]:
    """The GPT-2 byte↔unicode alphabet (openai/gpt-2 encoder.py,
    public): every byte maps to a PRINTABLE codepoint so merge tables
    and vocab files stay whitespace-free — printable bytes (33-126,
    161-172, 174-255) map to themselves, the other 68 bytes map to
    256+n in byte order (so 0x20 space → U+0120 'Ġ', 0x0A newline →
    U+010A 'Ċ', 0x09 tab → U+0109 'ĉ')."""
    printable = (
        list(range(33, 127)) + list(range(161, 173)) + list(range(174, 256))
    )
    out: dict[int, str] = {b: chr(b) for b in printable}
    n = 0
    for b in range(256):
        if b not in out:
            out[b] = chr(256 + n)
            n += 1
    return out


def parse_merges(text: str) -> list[tuple[str, str]]:
    """Parse the published merges.txt format (huggingface/openai BPE
    vocabularies): an optional ``#version`` header, then one
    space-separated symbol pair per line in rank order. Blank lines
    are ignored; a line without exactly two fields is malformed."""
    merges: list[tuple[str, str]] = []
    for i, raw in enumerate(text.splitlines()):
        line = raw.strip()
        if not line or (i == 0 and line.startswith("#version")):
            continue
        parts = line.split(" ")
        if len(parts) != 2 or not parts[0] or not parts[1]:
            raise ValueError(f"malformed merges.txt line {i + 1}: {raw!r}")
        merges.append((parts[0], parts[1]))
    return merges


def gpt2_pretokenize_reference(text: str) -> list[str]:
    """Pure-Python scanner implementing GPT2_PRETOKEN_RE's Java-regex
    semantics exactly (alternation order, the greedy-\\s+ one-char
    backtrack that (?!\\S) induces, ASCII \\s) — the dependency-free
    ground truth the batch path runs and the Column path is tested
    against. Unicode letters/numbers via unicodedata categories
    (Java's \\p{L}/\\p{N})."""
    import unicodedata

    _ws = " \t\n\x0b\f\r"

    def cat(ch: str) -> str:
        return unicodedata.category(ch)[0]

    out: list[str] = []
    i, n = 0, len(text)
    while i < n:
        hit = next(
            (c for c in _GPT2_CONTRACTIONS if text.startswith(c, i)), None
        )
        if hit is not None:
            out.append(hit)
            i += len(hit)
            continue
        matched = False
        for want in ("L", "N", "O"):
            j = i + 1 if text[i] == " " and i + 1 < n else i
            k = j
            while k < n and (
                cat(text[k]) == want
                if want != "O"
                else (text[k] not in _ws and cat(text[k]) not in "LN")
            ):
                k += 1
            if k > j:
                out.append(text[i:k])
                i = k
                matched = True
                break
        if matched:
            continue
        # whitespace run: all of it at end-of-string, else give back
        # one char ((?!\S) backtrack); a single ws char stays whole
        k = i
        while k < n and text[k] in _ws:
            k += 1
        if k < n and k - i > 1:
            k -= 1
        out.append(text[i:k])
        i = k
    return out


def gpt2_apply_reference(
    text: str,
    merges: list[tuple[str, str]],
    rank: dict[tuple[str, str], int] | None = None,
) -> list[str]:
    """Reference byte-level BPE encode: pretokenize, map each
    pretoken's UTF-8 bytes through the GPT-2 alphabet, run the greedy
    merge loop per pretoken. Driver-side ground truth for the
    compiled merge chain in gpt2_encoded; gpt2_encode_ids_batch runs
    it per row for large vocabularies. Pass a precomputed ``rank``
    when encoding many texts against a large vocabulary (see
    bpe_apply_reference)."""
    b2u = gpt2_bytes_to_unicode()
    if rank is None:
        rank = {pair: i for i, pair in enumerate(merges)}
    pieces: list[str] = []
    for tok in gpt2_pretokenize_reference(text):
        mapped = "".join(b2u[b] for b in tok.encode("utf-8"))
        pieces.extend(bpe_apply_reference(mapped, merges, rank))
    return pieces


def gpt2_pretokenize(c: Column | str) -> Column:
    """GPT-2 pretokenization as a pure Column: Java regex runs the
    published pattern verbatim (lookahead included) inside codegen —
    zero shuffle. The DuckDB oracle reproduces it RE2-safely as a
    plain alternation plus a list-surgery pass for the (?!\\S) rule
    (verified token-for-token against this and the reference
    scanner)."""
    return F.regexp_extract_all(_cc(c), F.lit(GPT2_PRETOKEN_RE), 0)


def sql_int_array(vals) -> str:
    """SQL fragment: array<int> literal (empty arrays keep a typed
    cast)."""
    vals = list(vals)
    if not vals:
        return "cast(array() as array<int>)"
    return "array(" + ",".join(str(int(v)) for v in vals) + ")"


def sql_bigint_array(vals) -> str:
    """SQL fragment: array<bigint> literal (L-suffixed elements — the
    same BIGINT Literal nodes ``F.lit(int).cast('long')`` builds,
    one parse instead of ~3 py4j round-trips per element)."""
    vals = list(vals)
    if not vals:
        return "cast(array() as array<bigint>)"
    return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"


def gpt2_encoded_sql(inp: str, merges: list[tuple[str, str]]) -> str:
    """SQL fragment: :func:`gpt2_encoded` over the fragment ``inp``."""
    pre = f"regexp_extract_all({inp}, {_sql_str(GPT2_PRETOKEN_RE)}, 0)"
    ws_from = _sql_str(" \t\n")
    ws_to = _sql_str("ĠĉĊ")
    mapped = (
        f"transform({pre}, __gt -> "
        f"translate(__gt, {ws_from}, {ws_to}))"
    )
    enc = (
        f"transform({mapped}, __gw -> "
        f"{bpe_encoded_word_sql('__gw', merges)})"
    )
    return f"trim(regexp_replace(array_join({enc}, ''), ' +', ' '))"


def gpt2_vocab_map_sql(merges: list[tuple[str, str]]) -> str:
    """SQL fragment: the rank-ordered symbol→id literal map of
    :func:`gpt2_token_ids` (array<string> keys, array<int> ids)."""
    vocab = gpt2_vocab(merges)
    syms = list(vocab)
    keys = "array(" + ",".join(_sql_str(s) for s in syms) + ")"
    ids = sql_int_array([vocab[s] for s in syms])
    return f"map_from_arrays({keys}, {ids})"


def gpt2_token_ids_sql(inp: str, merges: list[tuple[str, str]]) -> str:
    """SQL fragment: :func:`gpt2_token_ids` over the fragment ``inp``
    (split → filter-empty → literal-map lookup). ONE reference to the
    (expensive, un-CSE'd) merge chain: split evaluates it once, and the
    empty document's [''] filters away instead of a when() guard that
    would re-evaluate the chain. try_element_at: a symbol outside the
    256-char alphabet (non-ASCII flows through gpt2_encoded unmapped)
    yields a NULL id instead of an ANSI MAP_KEY_DOES_NOT_EXIST job
    abort."""
    enc = gpt2_encoded_sql(inp, merges)
    m = gpt2_vocab_map_sql(merges)
    return (
        f"transform(filter(split({enc}, ' '), __gs -> __gs != ''), "
        f"__gi -> cast(try_element_at({m}, __gi) as int))"
    )


def gpt2_encoded(c: str, merges: list[tuple[str, str]]) -> Column:
    """Byte-level BPE encode of text column ``c`` as a zero-shuffle
    expression: pretoken array → GPT-2 byte alphabet (translate for
    the three ASCII whitespace bytes; printable ASCII is identity by
    construction) → the compiled merge chain per pretoken. ASCII-text
    scope — any other byte needs UTF-8 decomposition, which is
    gpt2_encode_ids_batch's job. Returns the document's space-joined
    symbol string (symbols never contain a literal space — the
    alphabet maps it away — so the join is unambiguous). A dotted ``c`` names a
    struct field, as under ``F.col``."""
    return F.expr(gpt2_encoded_sql(sql_ident(c), merges))


def gpt2_token_count(c: str, merges: list[tuple[str, str]]) -> Column:
    """Per-document byte-level BPE token count off gpt2_encoded's
    symbol string (0 for empty docs)."""
    s = gpt2_encoded(c, merges)
    return F.when(s == "", F.lit(0)).otherwise(
        F.size(F.split(s, " "))
    ).cast("bigint")


def gpt2_vocab(merges: list[tuple[str, str]]) -> dict[str, int]:
    """Rank-ordered symbol→id table, GPT-2's published construction
    (openai/gpt-2 encoder.py + the shipped vocab.json): ids 0-255 are
    the byte alphabet in bytes_to_unicode order — printable identity
    bytes ascending first ('!'=0 … '~'=93, '¡'=94 … 'ÿ'=187), then
    the 68 remapped bytes ascending ('Ā' (byte 0x00)=188 … so
    'ĉ' (tab)=197, 'Ċ' (newline)=198, 'Ġ' (space)=220) — and merge k
    creates symbol a+b with id 256+k (GPT-2's real table: 'Ġt'=256,
    'Ġthe'=262, … '<|endoftext|>'=50256 appended last, out of scope
    here). A merge recreating an existing symbol is malformed."""
    vocab: dict[str, int] = {}
    for i, ch in enumerate(gpt2_bytes_to_unicode().values()):
        vocab[ch] = i
    for k, (a, b) in enumerate(merges):
        sym = a + b
        if sym in vocab:
            raise ValueError(
                f"merge {k} recreates existing symbol {sym!r}"
            )
        vocab[sym] = 256 + k
    return vocab


def token_ids_dedup(
    df: DataFrame,
    text_col: str,
    encode,
    id_col: str = "doc_id",
    out_col: str = "token_ids",
) -> DataFrame:
    """DICTIONARY ENCODE for word-level tokenizers: run the per-word
    DP/walk once per DISTINCT wordform instead of once per occurrence
    — the zipfian dedup win every word-keyed tokenizer family
    (unigram Viterbi, WordPiece longest-match) shares. ``encode`` is
    the family's per-TEXT encoder (e.g. ``lambda w:
    unigram_token_ids(w, vocab)``) applied to the single-word column
    of the distinct-words frame — tokens() of an already-extracted
    word is the word itself, so the encoder's own OOV contract (one
    NULL element per uncoverable word) and its internal
    staged-struct handling (HOF subtrees are not CSE'd — the
    gpt2_token_ids rule) carry over unchanged.

    Plan: posexplode words with position → DISTINCT wordforms
    (dimension-sized for natural language at ANY corpus size — the
    wordpiece_train driver-vocab argument) → encode once each →
    BROADCAST join back (the corpus-side stream never shuffles for
    the join) → one groupBy(id) exchange reassembling per-document
    streams in word order. Two corpus-sized exchanges (distinct +
    regroup) traded against the per-occurrence encode CPU: at sf0.1
    the unigram catalog encode drops ~10x wall; at 100 TB the
    distinct frame is ~1e5-1e6 rows while occurrences are ~1e12.
    Empty/whitespace documents keep a row with an empty array
    (posexplode_outer). Output: (id_col, out_col array<int>)."""
    words = df.select(
        F.col(id_col),
        F.posexplode_outer(tokens(text_col)).alias("__ord", "__w"),
    )
    enc = (
        words.select("__w")
        .where(F.col("__w").isNotNull())
        .distinct()
        .select("__w", encode(F.col("__w")).alias("__ids"))
    )
    return (
        words.join(F.broadcast(enc), "__w", "left")
        .groupBy(id_col)
        .agg(
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("__ord"), F.col("__ids"))
                        )
                    ),
                    lambda x: F.coalesce(
                        x["__ids"], F.array().cast("array<int>")
                    ),
                )
            ).alias(out_col)
        )
    )


def gpt2_token_ids(c: str, merges: list[tuple[str, str]]) -> Column:
    """INTEGER token ids for a document — gpt2_encoded's symbol
    string looked up through the gpt2_vocab id table as one literal
    map (256+|merges| entries ride the plan; the executor-shipped
    50k-vocab path is gpt2_encode_ids_batch). Returns array<int>;
    empty documents give an empty array. Zero shuffle, zero UDF —
    this is the layer that makes the encoder's output diffable
    against a published tokenizer and feedable to a training stack.

    Loss accounting: an out-of-alphabet symbol yields a NULL element
    (not a job abort), and array_join-style consumers drop NULLs
    SILENTLY — callers gating on lossless output must count them
    (``size(ids) - size(filter(ids, isNotNull))``, the n_oov column
    t_bpe_ids publishes) and route non-ASCII corpora through
    gpt2_encode_ids_batch, the lossless full-UTF-8 path.

    A dotted ``c`` names a struct field, as under ``F.col``."""
    return F.expr(gpt2_token_ids_sql(sql_ident(c), merges))


def gpt2_decode_ascii(
    ids: Column, merges: list[tuple[str, str]]
) -> Column:
    """Inverse of gpt2_token_ids on its documented ASCII scope: ids →
    symbols through the REVERSED rank-ordered vocab (one literal map),
    concatenated, then the three whitespace alphabet codepoints
    translated back (Ġ→space, ĉ→tab, Ċ→newline — the only non-identity
    mappings ASCII text ever produces). Byte-level BPE is lossless, so
    ``gpt2_decode_ascii(gpt2_token_ids(s)) == s`` for ASCII ``s``
    (property-tested) — the guarantee that lets a token-space loss
    mask PROVE it covers exactly the assistant content
    (chat.sft_tokens' roundtrip oracle). NULL (out-of-vocab) ids
    decode as '' — callers gate on n_oov == 0 first, the
    gpt2_token_ids loss-accounting rule. Zero shuffle, zero UDF."""
    vocab = gpt2_vocab(merges)
    syms = list(vocab)
    rmap = F.map_from_arrays(
        lit_int_array([vocab[s] for s in syms]), lit_string_array(syms)
    )
    joined = F.array_join(
        F.transform(ids, lambda i: F.try_element_at(rmap, i)), ""
    )
    return F.translate(joined, "ĠĉĊ", " \t\n")


def gpt2_encode_ids_batch(
    df, id_col: str, text_col: str, merges: list[tuple[str, str]]
):
    """Arrow-batched twin of gpt2_token_ids for real ~50k-merge
    vocabularies: the reference scanner + greedy loop + id lookup run
    in a pandas UDF, the vocab dict shipping once per executor inside
    the serialized function instead of as a plan literal. Output:
    (id_col, n_tokens bigint, token_ids string — space-joined ids,
    scalar so the driver hash gate can canonicalize it)."""
    from pyspark.sql.functions import pandas_udf

    vocab = gpt2_vocab(merges)
    rank = {pair: i for i, pair in enumerate(merges)}

    @pandas_udf("string")
    def enc_ids(texts: pd.Series) -> pd.Series:
        return pd.Series(
            [
                " ".join(
                    str(vocab[s])
                    for s in gpt2_apply_reference(t or "", merges, rank)
                )
                for t in texts
            ]
        )

    out = df.select(
        F.col(id_col), enc_ids(F.col(text_col)).alias("token_ids")
    )
    return out.select(
        id_col,
        F.when(F.col("token_ids") == "", F.lit(0))
        .otherwise(F.size(F.split("token_ids", " ")))
        .cast("bigint")
        .alias("n_tokens"),
        "token_ids",
    )


def _cc(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def nfc_normalize(df, id_col: str, text_col: str):
    """Unicode NFC normalization — the canonical-composition pass
    real crawl ingest runs before ANY hashing/dedup/tokenization
    (the same text arrives as composed 'é' from one site and
    decomposed 'e'+U+0301 from another; unnormalized, exact dedup
    misses byte-different/canonically-equal copies and every md5
    fingerprint forks). Spark has no built-in normalizer, so this is
    an Arrow-batched pandas UDF over Python's unicodedata (the
    Unicode reference data); one narrow projection, zero shuffle,
    batch-bounded memory. Output: (id_col, norm_text, changed) —
    ``changed`` marks rows the pass actually rewrote (the audit
    column; at 100 TB you want to KNOW how much of the corpus was
    denormalized).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(
            lambda t: None if t is None else unicodedata.normalize("NFC", t)
        )

    out = df.select(
        F.col(id_col),
        F.col(text_col).alias("_raw"),
        nfc(F.col(text_col)).alias("norm_text"),
    )
    return out.select(
        id_col,
        "norm_text",
        # null-safe: a NULL-text row was not rewritten — changed must
        # be false, not NULL, so changed / NOT changed still
        # partitions the corpus in audit counts
        (~F.col("_raw").eqNullSafe(F.col("norm_text"))).alias("changed"),
    )


def dedup_paragraphs(
    df,
    id_col: str,
    text_col: str,
    min_chars: int = 1,
):
    """Paragraph-level exact dedup — the CCNet preprocessing step
    proper (Wenzek et al. 2020 dedup by PARAGRAPH hash, where a
    paragraph is a newline-delimited line): keep each distinct
    normalized paragraph's globally FIRST occurrence
    (min (doc, line_idx)), drop every other copy corpus-wide, and
    reassemble documents from surviving lines in order. This is what
    strips boilerplate navigation/cookie banners that repeat across
    a site — they appear once in the whole corpus afterwards.

    Normalization for the hash (CCNet's): lowercase, digits removed,
    punctuation-insensitive via the token stream, whitespace
    collapsed — the ORIGINAL line text is what survives into
    clean_text. Lines shorter than ``min_chars`` (after trim) are
    kept unconditionally, and so are lines whose NORMALIZATION is
    empty (digit-only, punctuation-only, separator lines): they are
    structure, not content, and hashing them would cross-delete every
    '---' and date line in the corpus against the first one. NULL
    text is treated as '' (the document survives with one empty
    line), mirroring the engine's no-silent-row-loss contract.

    100 TB shape — line TEXT crosses exactly ONE exchange: the
    paragraph-hash shuffle carries (md5, id, line_idx) only; winners
    collapse to a per-document keep-set array (id-partitioned, ids
    only); the single text shuffle is the id join that reunites lines
    with their keep-set, and the reassembly groupBy(id) reuses that
    same partitioning (no second text exchange). The winner rule
    min(doc, position) is a map-side-combinable min aggregate, not a
    corpus window.

    Output: (id_col, clean_text, n_lines_kept, n_lines_total) — one
    row per document keeping at least one line.
    """
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), "\n")
        ).alias("line_idx", "line"),
    )
    digitless = F.lower(F.regexp_replace(F.col("line"), "[0-9]", ""))
    norm = F.array_join(
        F.regexp_extract_all(digitless, F.lit("[a-z]+"), 0), " "
    )
    # non-Latin content (Cyrillic/CJK/Greek boilerplate) has no
    # [a-z]+ tokens; fall back to the whitespace-collapsed digitless
    # line so repeated non-English banners still dedup. A line with
    # NO letter in ANY script (separators, punctuation, digit runs)
    # is structure: never hashed, kept everywhere.
    fallback = F.trim(F.regexp_replace(digitless, "\\s+", " "))
    normf = F.when(norm != "", norm).when(
        F.col("line").rlike("\\p{L}"), fallback
    )
    content = (F.length(F.trim(F.col("line"))) >= min_chars) & (
        normf.isNotNull()
    )
    # ids-only projection rides the hash exchange; text stays behind
    hmap = lines.select(
        F.col(id_col),
        "line_idx",
        F.when(content, F.md5(normf)).alias("_h"),
    )
    winners = (
        hmap.filter(F.col("_h").isNotNull())
        .groupBy("_h")
        .agg(F.min(F.struct(F.col(id_col), F.col("line_idx"))).alias("_w"))
        .select(
            F.col(f"_w.{id_col}").alias(id_col),
            F.col("_w.line_idx").alias("line_idx"),
        )
    )
    keep_ids = hmap.filter(F.col("_h").isNull()).select(
        id_col, "line_idx"
    ).unionByName(winners)
    keep_sets = keep_ids.groupBy(id_col).agg(
        F.collect_set("line_idx").alias("_keep")
    )
    kept = (
        lines.join(keep_sets, id_col)
        .filter(F.array_contains(F.col("_keep"), F.col("line_idx")))
        .select(id_col, "line_idx", "line")
    )
    totals = lines.groupBy(id_col).agg(F.count("*").alias("n_lines_total"))
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_idx", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias("clean_text"),
        F.count("*").alias("n_lines_kept"),
    )
    return rebuilt.join(totals, id_col)


def gopher_repetition_flags(
    c: Column | str, toks: Column | None = None
) -> dict[str, Column]:
    """The REPETITION half of the Gopher quality rules (Rae et al.
    2021 §A1.1 — gopher_quality_flags carries the length/symbol/
    stopword half): duplicate-line fractions and the most-frequent-
    bigram character share, as pure Column expressions (integer
    numerators/denominators, exact IEEE division only — hash-exact
    across engines; zero shuffle).

      dup_line_frac        duplicate lines / lines (a line repeating
                           an EARLIER line counts; array_distinct
                           keeps first occurrences)
      dup_line_char_frac   characters inside those duplicate lines /
                           all line characters
      top_bigram_chars     characters covered by the most frequent
                           token bigram: max count × (len(bigram
                           occurrences)); 0 for < 2 tokens
      top_bigram_char_frac top_bigram_chars / total token characters
      rep_lines_ok         dup_line_frac <= 0.30
      rep_line_chars_ok    dup_line_char_frac <= 0.20
      rep_bigram_ok        top_bigram_char_frac <= 0.20
      gopher_rep_pass      conjunction

    Per-row cost of the bigram share is O(L log L) — one array_sort
    plus one adjacent-run fold (gram_run_stats) inside codegen —
    linear with input splits, no exchange at any corpus size. The
    FULL §A1.1 family (top-2/3/4-gram + dup-5..10-gram fractions)
    lives in with_gopher_repetition, which stages each fold so no
    expensive subtree is referenced twice."""
    col = F.col(c) if isinstance(c, str) else c
    toks = tokens(c) if toks is None else toks
    # blank paragraph separators are NOT lines for the repetition
    # rules: '\n\n'-separated prose would otherwise count its
    # separators as duplicates and fail rep_lines_ok with zero real
    # repetition
    lines = F.filter(
        F.split(col, "\n"), lambda ln: F.length(F.trim(ln)) > 0
    )
    n_lines = F.size(lines)
    n_dist = F.size(F.array_distinct(lines))
    chars_all = F.length(F.array_join(lines, ""))
    chars_dist = F.length(F.array_join(F.array_distinct(lines), ""))
    dup_line_frac = F.when(
        n_lines > 0, (n_lines - n_dist) / n_lines.cast("double")
    ).otherwise(F.lit(0.0))
    dup_line_char_frac = F.when(
        chars_all > 0,
        (chars_all - chars_dist) / chars_all.cast("double"),
    ).otherwise(F.lit(0.0))
    # chars covered by the winning bigram = count * length of the
    # bigram STRING ("a b"), via ONE sorted-run fold (gram_run_stats)
    # — O(L log L) per row, replacing the former O(distinct x all)
    # count-per-distinct shape (round-7 verdict's 73.9 s outlier)
    best = F.coalesce(
        gram_run_stats(F.array_sort(bigrams_array(c, toks)))["top"],
        F.lit(0).cast("long"),  # NULL text: 0, like every other flag
    )
    tok_chars = F.length(F.array_join(toks, " "))
    top_frac = F.when(
        tok_chars > 0, best / tok_chars.cast("double")
    ).otherwise(F.lit(0.0))
    flags = {
        "dup_line_frac": dup_line_frac,
        "dup_line_char_frac": dup_line_char_frac,
        "top_bigram_chars": best,
        "top_bigram_char_frac": top_frac,
    }
    flags["rep_lines_ok"] = dup_line_frac <= 0.30
    flags["rep_line_chars_ok"] = dup_line_char_frac <= 0.20
    flags["rep_bigram_ok"] = top_frac <= 0.20
    flags["gopher_rep_pass"] = (
        flags["rep_lines_ok"]
        & flags["rep_line_chars_ok"]
        & flags["rep_bigram_ok"]
    )
    return flags


# Rae et al. 2021 Table A1 thresholds: a document is REMOVED when the
# fraction exceeds the limit, so pass = frac <= limit.
GOPHER_TOP_NGRAM_LIMITS = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_NGRAM_LIMITS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}


def _gram_fold_sql(n: int) -> str:
    """ONE-expr SQL mirror of
    ``gram_run_stats`` over the sorted adjacent n-grams of ``__grt``
    — semantics pinned by test_gram_fold_sql_matches_column_form.
    The Column-API form costs ~800 py4j round-trips per n (the
    HOF lambda builders chat with the JVM per node) — ~1.6 s of
    pure driver build time for the nine folds per query
    CONSTRUCTION (r14 cProfile receipt); one expr parse per n is
    a single round-trip with the identical expression tree."""
    same = "__ga.prev IS NOT NULL AND __ga.prev = __gg"
    run = (
        f"CASE WHEN {same} THEN __ga.run + 1 "
        "ELSE CAST(1 AS BIGINT) END"
    )
    ng = (
        f"CASE WHEN size(__grt) >= {n} THEN "
        f"transform(sequence(1, size(__grt) - {n - 1}), "
        f"__gi -> array_join(slice(__grt, __gi, {n}), ' ')) "
        "ELSE CAST(array() AS ARRAY<STRING>) END"
    )
    return (
        f"aggregate(array_sort({ng}), "
        "struct(CAST(NULL AS STRING) AS prev, "
        "CAST(0 AS BIGINT) AS run, CAST(0 AS BIGINT) AS top, "
        "CAST(0 AS BIGINT) AS dup), "
        "(__ga, __gg) -> struct("
        "__gg AS prev, "
        f"{run} AS run, "
        f"greatest(__ga.top, ({run}) * CAST(length(__gg) AS BIGINT)) "
        "AS top, "
        f"__ga.dup + (CASE WHEN {same} "
        "THEN CAST(length(__gg) AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END) AS dup), "
        "__ga -> struct(__ga.top AS top, __ga.dup AS dup))"
    )


_GOPHER_NS = tuple(
    sorted(GOPHER_TOP_NGRAM_LIMITS) + sorted(GOPHER_DUP_NGRAM_LIMITS)
)
_GOPHER_FOLD_FIELDS = tuple(
    f"{k}{n}" for n in _GOPHER_NS for k in ("t", "d")
)
_GOPHER_FOLD_TYPE = (
    "struct<"
    + ",".join(f"{f}:bigint" for f in _GOPHER_FOLD_FIELDS)
    + ">"
)


def _gopher_fold_ref_row(toks) -> dict:
    """Exact per-row Python mirror of the nine SQL gram folds
    (``gram_run_stats`` over the sorted adjacent n-grams): top =
    max count·len over distinct n-grams, dup = Σ (count−1)·len —
    both are order-free aggregates, so a Counter reproduces the
    sorted-run fold bit-for-bit (lengths are code points on both
    sides; Python `len` == Spark `length`). NULL token elements are
    SKIPPED inside a gram exactly like ``array_join(_, ' ')``; a
    NULL array yields all zeros exactly like the SQL CASE guard.
    This is the slow reference the vectorized batch kernel is tested
    against, and the fallback for rows whose token arrays contain
    NULL elements (regexp tokenizers never produce those)."""
    from collections import Counter

    out = {f: 0 for f in _GOPHER_FOLD_FIELDS}
    if toks is None:
        return out
    ts = list(toks)
    size = len(ts)
    for n in _GOPHER_NS:
        if size < n:
            continue
        cnt = Counter(
            " ".join(t for t in ts[i : i + n] if t is not None)
            for i in range(size - n + 1)
        )
        top = 0
        dup = 0
        for g, c in cnt.items():
            lg = len(g)
            if c * lg > top:
                top = c * lg
            if c > 1:
                dup += (c - 1) * lg
        out[f"t{n}"] = top
        out[f"d{n}"] = dup
    return out


def _gopher_fold_batch(tok_col):
    """Batch kernel for the nine Gopher gram folds: one
    ``pyarrow.Array`` of ``list<string>`` in, one ``StructArray``
    of 18 bigints (t2,d2,…,t10,d10) out — everything C-vectorized
    (guide §4.2: hand whole batches to native code):

    1. flatten the token lists, dictionary-encode tokens to int ids
       (pyarrow), take per-token code-point lengths from the
       dictionary;
    2. per n: int-id n-gram windows via numpy sliding_window_view,
       masked to windows that stay inside one row; group identical
       (row, gram) windows with ONE np.unique over a void view
       (byte-wise grouping of the id tuple — exact, no hashing);
    3. gram char length = prefix-sum difference of token lengths
       (+ n−1 joiner spaces — ids are null-free here, so every join
       keeps all n tokens); top via np.maximum.at, dup via
       np.add.at — integer-exact throughout (never float weights).

    Rows whose lists contain NULL elements take the per-row
    reference path (`_gopher_fold_ref_row`) and are excluded from
    the vector pass; NULL lists yield zeros like the SQL guard."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from numpy.lib.stride_tricks import sliding_window_view

    if isinstance(tok_col, pa.ChunkedArray):
        tok_col = tok_col.combine_chunks()
    rows = len(tok_col)
    out = {
        f: np.zeros(rows, dtype=np.int64) for f in _GOPHER_FOLD_FIELDS
    }
    if rows == 0:
        return pa.StructArray.from_arrays(
            [pa.array(out[f], type=pa.int64()) for f in _GOPHER_FOLD_FIELDS],
            list(_GOPHER_FOLD_FIELDS),
        )
    counts = pc.list_value_length(tok_col).to_numpy(zero_copy_only=False)
    counts = np.nan_to_num(counts, nan=0).astype(np.int64)
    flat = tok_col.flatten()  # non-null rows' slices, in row order
    row_of = np.repeat(np.arange(rows, dtype=np.int64), counts)
    if flat.null_count:
        # rare caller-supplied-array case: exact slow path per
        # affected row, vector path for the rest
        elem_null = pc.is_null(flat).to_numpy(zero_copy_only=False)
        bad_rows = np.unique(row_of[elem_null])
        for r in bad_rows:
            ref = _gopher_fold_ref_row(tok_col[int(r)].as_py())
            for f in _GOPHER_FOLD_FIELDS:
                out[f][r] = ref[f]
        keep = ~np.isin(row_of, bad_rows)
        flat = flat.filter(pa.array(keep))
        row_of = row_of[keep]
    enc = pc.dictionary_encode(flat)
    ids = enc.indices.to_numpy(zero_copy_only=False).astype(np.int32)
    dict_lens = pc.utf8_length(enc.dictionary).to_numpy(
        zero_copy_only=False
    ).astype(np.int64)
    tok_len = dict_lens[ids] if len(ids) else np.zeros(0, dtype=np.int64)
    cum = np.zeros(len(ids) + 1, dtype=np.int64)
    np.cumsum(tok_len + 1, out=cum[1:])
    for n in _GOPHER_NS:
        m = len(ids) - n + 1
        if m <= 0:
            continue
        w = sliding_window_view(ids, n)
        valid = row_of[:m] == row_of[n - 1 :]
        starts = np.nonzero(valid)[0]
        if not len(starts):
            continue
        key = np.ascontiguousarray(
            np.column_stack(
                (row_of[starts].astype(np.int32), w[starts])
            )
        )
        kv = key.view(f"V{key.shape[1] * 4}").ravel()
        _, first_idx, counts_u = np.unique(
            kv, return_index=True, return_counts=True
        )
        g_start = starts[first_idx]
        glen = cum[g_start + n] - cum[g_start] - 1
        urow = row_of[g_start]
        np.maximum.at(out[f"t{n}"], urow, counts_u * glen)
        np.add.at(out[f"d{n}"], urow, (counts_u - 1) * glen)
    return pa.StructArray.from_arrays(
        [pa.array(out[f], type=pa.int64()) for f in _GOPHER_FOLD_FIELDS],
        list(_GOPHER_FOLD_FIELDS),
    )


def gopher_fold_arrow():
    """The nine Gopher gram folds as ONE Arrow-vectorized UDF
    (Spark 4.1 ``arrow_udf``): tokens array in, 18-field bigint
    struct out, one ArrowEvalPython stage. Marked non-deterministic
    so the optimizer never duplicates the call when downstream
    projections each pick a field (guide §4.4). Byte-equality with
    the SQL fold form is pinned by test_gopher_fold_arrow."""
    import pyarrow as pa

    def _folds(toks):
        return _gopher_fold_batch(toks)

    # real class objects, not strings: this module's `from __future__
    # import annotations` would otherwise stringify the hints and
    # arrow_udf's eval-type inference cannot resolve 'pa.Array'
    _folds.__annotations__ = {"toks": pa.Array, "return": pa.Array}
    return F.arrow_udf(_folds, _GOPHER_FOLD_TYPE).asNondeterministic()


def with_gopher_repetition(
    df,
    text_col: str,
    toks_col: str | None = None,
    fan_out: bool | None = None,
    engine: str = "arrow",
):
    """FULL Gopher §A1.1 repetition rule set (Rae et al. 2021) as a
    staged zero-shuffle transform — the complete family the dict-
    style gopher_repetition_flags only samples:

      dup_line_frac / dup_line_char_frac     (limits .30 / .20)
      top_{2,3,4}gram_char_frac              (limits .20/.18/.16)
      dup_{5..10}gram_char_frac              (limits .15 down to .10)
      top_bigram_chars                       (n=2 winner's char cover)
      gopher_rep_pass                        conjunction of ALL 11

    Every fraction is an integer numerator over the shared token-
    char denominator (len of tokens joined by ' '), exact IEEE
    division only — hash-exact across engines. Each n's numerator is
    ONE gram_run_stats fold over a sorted n-gram array: O(L log L)
    per row per n, nine n's total, zero exchanges at any corpus
    size. The folds, the token array, and the line array are each
    materialized in their OWN projection stage and referenced by
    name downstream, so CollapseProject cannot duplicate an
    expensive subtree ([[spark-column-cse]]).

    Duplicate-chars semantics follow the reference open
    implementation (DeepMind's rule as shipped in DataTrove/NeMo
    Curator): a gram occurring c times contributes (c-1)*len(gram) —
    overlapping character positions are NOT de-overlapped.
    Denominator is token chars (this module's convention), not raw
    text length.

    The scoring is CPU-bound (nine gram builds + sorts per doc cost
    far more per input byte than the scan), so when the source has
    fewer file splits than cores the one-off fan-out shuffle pays for
    itself — same gated heuristic and rationale as
    minhash_dedup_pairs (measured at sf0.1: 1.2 s with fan-out vs
    6.8 s without, 32 cores / 1 unsplittable file). On a real corpus
    (many splits) the condition is false and the plan keeps ZERO
    exchanges. ``fan_out`` pins the gate explicitly (True/False) for
    host-independent plan receipts; None keeps the heuristic — see
    ``cpu_fan_out``.

    ``engine`` selects how the nine gram folds are evaluated:
    ``"arrow"`` (default) runs them as ONE Arrow-vectorized UDF
    (:func:`gopher_fold_arrow` — batch numpy/pyarrow kernel, one
    ArrowEvalPython stage; r15: the folds were the largest
    executor-CPU item in the headline bench at 13.2 s cpu_ms and
    the codegen string-sort fold is the bottleneck, guide §4.2);
    ``"sql"`` keeps the pure-codegen sorted-run folds (the
    reference twin — byte-equality pinned by test_gopher_fold_arrow
    across both engines). Every other column is codegen either way."""
    if engine not in ("arrow", "sql"):
        raise ValueError(
            f"with_gopher_repetition engine must be arrow|sql, got {engine!r}"
        )
    df = cpu_fan_out(df, fan_out)
    base = list(df.columns)
    toks = F.col(toks_col) if toks_col else tokens(text_col)
    s0 = df.select("*", toks.alias("__grt"))

    s1 = s0.select(
        "*",
        F.filter(
            F.split(F.col(text_col), "\n"),
            lambda ln: F.length(F.trim(ln)) > 0,
        ).alias("__grl"),
    )
    ns = sorted(GOPHER_TOP_NGRAM_LIMITS) + sorted(GOPHER_DUP_NGRAM_LIMITS)
    line_cols = (
        F.size("__grl").alias("__nl"),
        F.size(F.array_distinct("__grl")).alias("__nd"),
        F.length(F.array_join("__grl", "")).alias("__ca"),
        F.length(F.array_join(F.array_distinct("__grl"), "")).alias("__cd"),
        F.length(F.array_join("__grt", " ")).alias("__tc"),
    )
    if engine == "arrow":
        s2 = s1.select(
            *base,
            *line_cols,
            gopher_fold_arrow()(F.col("__grt")).alias("__grf"),
        )

        def rep(n: int, field: str) -> Column:
            return F.col("__grf")[f"{field[0]}{n}"]

    else:
        s2 = s1.select(
            *base,
            *line_cols,
            *(
                F.expr(_gram_fold_sql(n)).alias(f"__rep{n}")
                for n in ns
            ),
        )

        def rep(n: int, field: str) -> Column:
            return F.col(f"__rep{n}")[field]

    def frac(num: Column, den: Column) -> Column:
        return F.when(den > 0, num / den.cast("double")).otherwise(
            F.lit(0.0)
        )

    tc = F.col("__tc")
    out_cols: list[Column] = [
        frac(F.col("__nl") - F.col("__nd"), F.col("__nl")).alias(
            "dup_line_frac"
        ),
        frac(F.col("__ca") - F.col("__cd"), F.col("__ca")).alias(
            "dup_line_char_frac"
        ),
        F.coalesce(
            rep(2, "top"), F.lit(0).cast("long")
        ).alias("top_bigram_chars"),
    ]
    for n in sorted(GOPHER_TOP_NGRAM_LIMITS):
        out_cols.append(
            frac(
                F.coalesce(rep(n, "top"), F.lit(0)), tc
            ).alias(f"top_{n}gram_char_frac")
        )
    for n in sorted(GOPHER_DUP_NGRAM_LIMITS):
        out_cols.append(
            frac(
                F.coalesce(rep(n, "dup"), F.lit(0)), tc
            ).alias(f"dup_{n}gram_char_frac")
        )
    s3 = s2.select(*base, *out_cols)
    checks = [
        F.col("dup_line_frac") <= 0.30,
        F.col("dup_line_char_frac") <= 0.20,
        *(
            F.col(f"top_{n}gram_char_frac") <= lim
            for n, lim in sorted(GOPHER_TOP_NGRAM_LIMITS.items())
        ),
        *(
            F.col(f"dup_{n}gram_char_frac") <= lim
            for n, lim in sorted(GOPHER_DUP_NGRAM_LIMITS.items())
        ),
    ]
    gate = checks[0]
    for c in checks[1:]:
        gate = gate & c
    return s3.select("*", gate.alias("gopher_rep_pass"))


def _select_compatible_batch(
    cands: list[tuple[str, str, int]],
    maxtri: dict[tuple[str, str], int],
    collide: set[tuple[str, str]],
    min_count: int,
    tri3: dict[tuple[str, str, str], int] | None = None,
) -> list[tuple[str, str, int]]:
    """Longest PREFIX of the stale-count candidate ranking that
    provably equals the sequential (one-recount-per-merge) schedule —
    the driver-side heart of batched BPE training in ``bpe_train``.

    ``cands`` is sorted by (count desc, left, right) — the argmax
    total order — so candidate 1 is exactly what sequential merges
    first, unconditionally. Candidate i > 1 is accepted only while
    every way the earlier accepted merges could perturb the ranking
    is ruled out:

    * its own count must be provably INVARIANT under the earlier
      accepted merges. A merge (p, q) destroys an occurrence of
      (l, r) only by consuming one of its tokens, which needs an
      ADJACENT overlap in the data: r == p with triple (l, p, q)
      present, or l == q with triple (p, q, r) present (same-side
      symbol sharing — (e,n) vs (e,r) — can never interact; the two
      other consumption patterns require (l,r) == (p,q)). ``tri3``
      holds the counts of exactly the triples whose BOTH adjacent
      pairs are candidates — the only ones this test can query — so
      a missing key means count 0 and the candidate is safe even
      when it shares symbols with the whole batch. Increases would
      need an accepted OUTPUT inside {l, r}, impossible for a stale
      candidate unless that output string pre-existed — and then the
      earlier merge is collide-flagged and already ended the batch;
    * l+r must not duplicate an earlier accepted output (two merges
      feeding the same string make their created-pair counts ADD, so
      the single-merge triple bound below would halve);
    * count strictly above ``mt`` = max over earlier accepted merges
      of their max adjacent-TRIPLE count: every pair a merge (a,b)
      CREATES (x·ab, ab·y, and compositions) or leaves as an
      overlap residual occurs only where a triple (x,a,b)/(a,b,y)
      occurred, so triple counts upper-bound every post-merge count
      increase — nothing new can overtake the next candidate;
    * ``collide`` marks accepted merges whose output string equals a
      symbol ALREADY in the vocabulary (BPE's string conflation):
      such a merge can INCREASE an original pair's count (x·ab gains
      the new ab occurrences), so the batch ends right after it
      (mt := +inf), exactly like an unbounded triple.

    The prefix shape matters twice over: nothing ranked before an
    accepted candidate is ever skipped, so at candidate i's
    sequential step every remaining original pair sits at-or-after
    it in the (count, lex) order with counts that can only have
    decreased — and because top-cap collection is a PREFIX of
    that same total order, an UNCOLLECTED pair can never outrank a
    collected one either (ties resolve by the lex key the collection
    sorted on), so no horizon guard on the collection boundary is
    needed and count-tie plateaus wider than the cap still batch."""
    tri3 = tri3 or {}
    batch: list[tuple[str, str, int]] = []
    outputs: set[str] = set()
    inputs: set[str] = set()
    # accepted merges indexed by each side, so the exact-interaction
    # test touches only the accepted pairs that actually share the
    # adjacency symbol (O(matches), not O(batch) per candidate —
    # profiling showed the linear scan costing seconds per 4k-wide
    # round)
    by_left: dict[str, list[tuple[str, str]]] = {}
    by_right: dict[str, list[tuple[str, str]]] = {}
    mt: float | None = None
    for i, (l, r, cnt) in enumerate(cands):
        if cnt < min_count:
            break
        if i > 0:
            if mt is not None and cnt <= mt:
                break
            if l in outputs or r in outputs or (l + r) in outputs:
                break
            if (l + r) in inputs:
                # the candidate's output string is an EARLIER accepted
                # pair's input symbol: under the one-combined-scan
                # application an earlier pair could consume tokens
                # this merge creates in the same round (['b','c','x']
                # with batch [(bc,x),(b,c)] -> ['bcx'] combined vs
                # ['bc','x'] chained), breaking the combined scan's
                # fresh-outputs precondition — end the batch here.
                # Such a candidate is always collide-flagged (its
                # output pre-exists in the vocabulary), but collide
                # alone only stops the batch AFTER the merge; this
                # stops it BEFORE when the specific input overlap
                # exists. (Code-review r10 finding.)
                break
            if any(
                tri3.get((l, p, q), 0) > 0
                for p, q in by_left.get(r, ())
            ) or any(
                tri3.get((p, q, r), 0) > 0
                for p, q in by_right.get(l, ())
            ):
                break
        batch.append((l, r, cnt))
        outputs.add(l + r)
        inputs.add(l)
        inputs.add(r)
        by_left.setdefault(l, []).append((l, r))
        by_right.setdefault(r, []).append((l, r))
        t: float = maxtri.get((l, r), 0)
        if (l, r) in collide:
            t = float("inf")
        mt = t if mt is None else max(mt, t)
    return batch


def _apply_pair_passes(
    parts: list[str], l: str, r: str, out: str | None = None
) -> list[str]:
    """Symbol-list twin of the flat-string ``replace(' l r ', ' lr ')``
    pass chain: per pass, scan left-to-right; each replacement
    consumes its TRAILING delimiter, so the symbol immediately after
    a merge cannot START a match in the same pass (a run of five
    folds to [lr, x, lr], NOT leftmost-greedy [lr, lr, x] — the
    hypothesis sweep caught exactly this divergence). _BPE_PASSES
    passes with early exit on a changeless pass, matching the Spark
    and reference replace chains. ``out`` overrides the merged symbol
    (default ``l + r``; WordPiece strips the right side's ``##``
    continuation marker — wordpiece.merge_token)."""
    if out is None:
        out = l + r
    for _ in range(_BPE_PASSES):
        res: list[str] = []
        i = 0
        n = len(parts)
        changed = False
        while i < n:
            if i + 1 < n and parts[i] == l and parts[i + 1] == r:
                res.append(out)
                i += 2
                changed = True
                if i < n:  # leading space consumed: not a match start
                    res.append(parts[i])
                    i += 1
            else:
                res.append(parts[i])
                i += 1
        parts = res
        if not changed:
            break
    return parts


def bpe_train_incremental_reference(
    word_counts: dict[str, int],
    n_merges: int,
    min_count: int = 2,
    stats: dict | None = None,
):
    """Sequential-exact BPE trainer with PAIR-COUNT DELTA MAINTENANCE
    — the algorithm production tokenizer trainers actually ship
    (HuggingFace tokenizers' BpeTrainer, SentencePiece's BPE mode):
    count every adjacent pair ONCE, then per merge touch only the
    words that CONTAIN the merged pair, applying the exact
    engine-semantics replace (``_apply_pair_passes``) and folding the
    count difference into a lazily-invalidated max-heap. Per-merge
    cost is O(occurrences in affected words), not O(vocabulary) — so
    the merge count and the trajectory's chain structure stop
    mattering: the Zipf-head regime that serializes the batched
    scheduler (interaction-dense mega-words → p50 batch 2,
    BENCH_bpe_train round-10 tier) costs the same per merge as the
    flat tail here, because this trainer never recounts anything.

    Trajectory-EXACT twin of the sequential Sennrich loop: identical
    zip-adjacent counting (overlapping runs count), identical
    (count desc, lexicographic pair) argmax via the heap's
    (-count, pair) order, identical ``min_count`` stop, identical
    multi-pass replace semantics — property-tested equal on random
    corpora and pinned against the DuckDB-unrolled sequential oracle
    by t_bpe_train_incremental. The heap is LAZY: every count change
    pushes a fresh entry; a popped entry is live only if it matches
    the current count (stale entries — including counts lowered by
    later deltas — are discarded), so correctness never depends on
    decrease-key.

    ``stats`` receives {'rounds': 0, 'touched_symbols': N} — zero
    vocabulary-sized recounts by construction; touched_symbols is
    the total re-tokenization work, the quantity that replaces
    "rounds" as this path's cost model.
    """
    import heapq
    from collections import Counter

    forms = [w for w in word_counts if w]
    words: list[list[str]] = [list(w) for w in forms]
    cnts: list[int] = [int(word_counts[w]) for w in forms]
    pair_counts: dict[tuple[str, str], int] = {}
    pair_words: dict[tuple[str, str], set[int]] = {}
    for i, parts in enumerate(words):
        c = cnts[i]
        seen: set[tuple[str, str]] = set()
        for p in zip(parts, parts[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + c
            seen.add(p)
        for p in seen:
            pair_words.setdefault(p, set()).add(i)
    heap: list[tuple[int, tuple[str, str]]] = [
        (-c, p) for p, c in pair_counts.items()
    ]
    heapq.heapify(heap)
    merges: list[tuple[str, str, int]] = []
    touched = 0
    while len(merges) < n_merges:
        best = None
        while heap:
            negc, p = heapq.heappop(heap)
            if pair_counts.get(p, 0) == -negc:
                best = (p, -negc)
                break
        if best is None:
            break
        (l, r), cnt = best
        if cnt < min_count:
            break
        merges.append((l, r, cnt))
        for i in list(pair_words.get((l, r), ())):
            parts = words[i]
            c = cnts[i]
            new = _apply_pair_passes(parts, l, r)
            oldc = Counter(zip(parts, parts[1:]))
            newc = Counter(zip(new, new[1:]))
            for p in oldc.keys() | newc.keys():
                d = newc.get(p, 0) - oldc.get(p, 0)
                if d:
                    nv = pair_counts.get(p, 0) + d * c
                    if nv > 0:
                        pair_counts[p] = nv
                        heapq.heappush(heap, (-nv, p))
                    else:
                        pair_counts.pop(p, None)
                if oldc.get(p, 0) and not newc.get(p, 0):
                    s = pair_words.get(p)
                    if s is not None:
                        s.discard(i)
                        if not s:
                            pair_words.pop(p, None)
                elif newc.get(p, 0) and not oldc.get(p, 0):
                    pair_words.setdefault(p, set()).add(i)
            words[i] = new
            touched += len(parts)
    if stats is not None:
        stats["rounds"] = 0
        stats["batch_sizes"] = []
        stats["touched_symbols"] = touched
    return merges, {
        forms[i]: " " + " ".join(words[i]) + " "
        for i in range(len(forms))
    }


def bpe_train(
    df,
    text_col: str,
    n_merges: int = 8,
    min_count: int = 2,
    batch_cap: int = 256,
    stats: dict | None = None,
    mode: str = "auto",
    driver_vocab_max: int = 4_000_000,
):
    """Distributed BPE TRAINING — the tokenizer-learning half next to
    the encode paths (bpe_encoded_word_sql / gpt2_encode_ids_batch
    consume what this produces). Classic Sennrich iteration, shaped for
    scale: the corpus is touched EXACTLY ONCE (one token explode +
    count aggregation — the only corpus-sized exchange); every
    training round then runs on the VOCABULARY (wordform → count,
    dimension-sized for any real corpus: ~10^5-10^6 rows at 100 TB).

    Per round, a BATCH of provably-compatible merges lands at once
    instead of one merge per driver round — the device that takes a
    GPT-2-class 50k-merge vocabulary from ~50k sequential
    vocabulary-sized jobs (days of scheduler overhead) down to
    hundreds of rounds. Gram counts are DELTA-MAINTAINED across
    rounds (round 12): the (pair, triple) count frame is built once
    from the initial vocabulary, then each round only the words the
    batch CHANGED emit signed deltas (new-sym grams +n, old-sym
    grams -n) folded into the held frame — the incremental trainer's
    rule as a DataFrame, so per-round shuffle is |gram table| +
    |affected-word deltas| instead of every adjacent position in the
    vocabulary (BENCH_bpe_train.json receipts the drop). The
    driver collects the top-cap candidates plus, per candidate,
    its max adjacent-triple count and an output-collision flag (two
    tiny broadcast joins against the same gram frame); then
    ``_select_compatible_batch`` keeps the longest candidate PREFIX
    that provably reproduces the sequential schedule — trajectory
    equality with the sequential loop is a theorem, not a hope
    (see its docstring for the four guards), and is property-tested
    on adversarial fixtures (created-pair overtakes, ties, output
    conflation). The whole batch applies in ONE chained-replace
    projection in rank order; round state is localCheckpointed (the
    graph.py loop discipline) so lineage stays flat across rounds;
    ties break deterministically (count desc, lexicographic pair);
    training stops when the best pair drops below ``min_count``.
    ``batch_cap=1`` degenerates to the classic one-merge-per-round
    loop (and skips the triple bookkeeping entirely).

    ``mode`` picks the training engine AFTER the one corpus exchange:

    * ``"driver"`` — collect the (wordform, count) vocabulary (a
      DIMENSION-sized table: the corpus-sized work is already folded
      into counts by the one exchange above; ~10^5-10^6 distinct
      wordforms for natural-language corpora at any corpus size, the
      same bounded-collect class as the k-means centroids and BPE
      argmax rows) and train with
      :func:`bpe_train_incremental_reference` — pair-count delta
      maintenance, per-merge cost O(affected occurrences), ZERO
      per-merge Spark jobs. This is how production tokenizer
      trainers work and it makes the round count irrelevant: the
      Zipf-head regime that keeps the distributed batch scheduler at
      p50 batch = 2 (BENCH_bpe_train.json) costs nothing extra here.
      Refuses loudly when the vocabulary exceeds
      ``driver_vocab_max`` rows — a vocabulary that big (web-scale
      noise, unsegmented scripts) needs the distributed path, not a
      silent driver OOM.
    * ``"distributed"`` — the vocabulary-resident batched rounds
      below (delta-maintained gram counts, provable-prefix merge
      batches): the escape hatch when the wordform table itself is
      too big to collect.
    * ``"auto"`` (default) — ``driver`` when the vocabulary row
      count fits ``driver_vocab_max``, else ``distributed``. The
      count is one job over the already-aggregated words frame.

    Returns (merges, vocab_df): merges as (left, right, pair_count)
    in rank order — feed ``[(a, b) for a, b, _ in merges]`` straight
    into bpe_encoded_word_sql/bpe_token_count — and the final symbolized
    vocabulary (word, sym, n) for audit. ``stats`` (optional dict)
    receives {'rounds': N, 'batch_sizes': [...], 'mode': ...} for
    round-count receipts (driver mode: rounds == 0 and
    'touched_symbols' — zero vocabulary-sized recounts is the
    point)."""
    if mode not in ("auto", "driver", "distributed"):
        raise ValueError(f"unknown bpe_train mode {mode!r}")
    spark = df.sparkSession
    words = (
        df.select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    if mode != "distributed":
        words = words.localCheckpoint(eager=True)
        n_vocab = words.count()
        if mode == "driver" and n_vocab > driver_vocab_max:
            raise ValueError(
                f"vocabulary has {n_vocab} wordforms > "
                f"driver_vocab_max={driver_vocab_max}; use "
                "mode='distributed' (or raise the bound explicitly)"
            )
        if n_vocab <= driver_vocab_max:
            wc = {r["w"]: int(r["n"]) for r in words.collect()}
            merges, final_syms = bpe_train_incremental_reference(
                wc, n_merges, min_count, stats=stats
            )
            if stats is not None:
                stats["mode"] = "driver"
                stats["vocab_rows"] = n_vocab
            # vocab_df replays the merge table over the ALREADY-
            # materialized words frame (eager localCheckpoint above)
            # instead of serializing up to driver_vocab_max rows
            # through a LocalRelation — near the 4M bound that
            # doubled driver memory (the trained dict + the full row
            # list + the Arrow copy). Rank-order _apply_pair_passes
            # replay over a fresh char split is exactly how BOTH
            # trainers evolve a word, so the rows equal final_syms
            # (asserted cross-mode by test_bpe_train_modes_agree and
            # below on a driver-side sample). Symbols are contiguous
            # substrings of the original word, so `a + b in w` is a
            # sound skip-guard making replay ~O(occurrences).
            flat = [(a, b) for a, b, _ in merges]
            sample = {
                w: final_syms[w] for w in list(final_syms)[:64]
            }
            for w, want in sample.items():
                parts = list(w)
                for a, b in flat:
                    if a + b in w:
                        parts = _apply_pair_passes(parts, a, b)
                got = " " + " ".join(parts) + " "
                if got != want:  # pragma: no cover - invariant guard
                    raise AssertionError(
                        f"merge replay diverged from trainer state "
                        f"for {w!r}: {got!r} != {want!r}"
                    )
            del wc, final_syms

            def _replay(batches):
                for pdf in batches:
                    syms = []
                    for w in pdf["w"]:
                        parts = list(w)
                        for a, b in flat:
                            if a + b in w:
                                parts = _apply_pair_passes(parts, a, b)
                        syms.append(" " + " ".join(parts) + " ")
                    out = pdf.assign(sym=syms)
                    yield out[["w", "sym", "n"]]

            vocab_df = words.mapInPandas(
                _replay, "w string, sym string, n long"
            )
            return merges, vocab_df
    if stats is not None:
        stats["mode"] = "distributed"
    vocab = words.select(
        F.col("w"),
        F.concat(
            F.lit(" "), F.regexp_replace("w", "(.)", "$1 ")
        ).alias("sym"),
        F.col("n"),
    ).localCheckpoint(eager=True)

    # Gram-count DELTA MAINTENANCE, distributed (round-11 advice item
    # lifted to the distributed path): the (a, b, c, cnt) gram frame
    # is built ONCE from the initial vocabulary, then per round only
    # the words the batch actually CHANGED emit signed deltas
    # (new-sym grams +n, old-sym grams -n) that fold into the held
    # frame — the bpe_train_incremental_reference rule as a
    # DataFrame. Per-round shuffle drops from every-adjacent-position
    # in the corpus vocabulary to |gram table| + |affected-word
    # deltas| (receipted in BENCH_bpe_train.json); the scan of vocab
    # stays (the replace projection must touch every word anyway).
    # Triples are maintained only when the batch scheduler can use
    # them (batch_cap > 1) — the schema must stay consistent across
    # rounds, so the decision is loop-constant, not per-round cap.
    with_triples = batch_cap > 1

    def gram_structs(s: Column) -> Column:
        """Adjacent pairs (and triples when scheduled) of a STAGED
        symbol-array column — callers stage the split in its own
        projection first ([[spark-column-cse]])."""
        sz = F.size(s)
        pair_structs = F.zip_with(
            F.slice(s, 1, sz - 1),
            F.slice(s, 2, sz - 1),
            lambda a, b: F.struct(
                a.alias("a"),
                b.alias("b"),
                F.lit(None).cast("string").alias("c"),
            ),
        )
        if not with_triples:
            return pair_structs
        tri_structs = F.when(
            sz >= 3,
            F.transform(
                F.sequence(F.lit(2), sz - 1),
                lambda i: F.struct(
                    F.element_at(s, (i - 1).cast("int")).alias("a"),
                    F.element_at(s, i.cast("int")).alias("b"),
                    F.element_at(s, (i + 1).cast("int")).alias("c"),
                ),
            ),
        ).otherwise(
            F.array().cast("array<struct<a:string,b:string,c:string>>")
        )
        return F.concat(pair_structs, tri_structs)

    staged0 = vocab.select(
        F.split(F.trim("sym"), " ").alias("__syms"), "n"
    )
    grams = (
        staged0.select(F.explode(gram_structs(F.col("__syms"))).alias("g"), "n")
        .groupBy("g.a", "g.b", "g.c")
        .agg(F.sum("n").alias("cnt"))
        .localCheckpoint(eager=True)
    )

    merges: list[tuple[str, str, int]] = []
    rounds = 0
    sizes: list[int] = []
    while len(merges) < n_merges:
        cap = min(batch_cap, n_merges - len(merges))
        pairs = grams.filter(F.col("c").isNull())
        cands_rows = (
            pairs.orderBy(
                F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc()
            )
            .limit(cap)
            .collect()
        )
        if not cands_rows or cands_rows[0]["cnt"] < min_count:
            break
        cands = [(r["a"], r["b"], int(r["cnt"])) for r in cands_rows]
        maxtri: dict[tuple[str, str], int] = {}
        collide: set[tuple[str, str]] = set()
        tri3: dict[tuple[str, str, str], int] = {}
        if cap > 1 and len(cands) > 1:
            cdf = F.broadcast(
                spark.createDataFrame(
                    [(l, r, l + r) for l, r, _ in cands],
                    "l string, r string, o string",
                )
            )
            nul = F.lit(None).cast("string")
            tri = grams.filter(F.col("c").isNotNull())
            tl = tri.join(
                cdf, (tri["a"] == cdf["l"]) & (tri["b"] == cdf["r"])
            ).select("l", "r", nul.alias("s3"), "cnt", F.lit("t").alias("k"))
            tr = tri.join(
                cdf, (tri["b"] == cdf["l"]) & (tri["c"] == cdf["r"])
            ).select("l", "r", nul.alias("s3"), "cnt", F.lit("t").alias("k"))
            # triples whose BOTH adjacent pairs are candidates — the
            # exact-interaction test's only query shape (see
            # _select_compatible_batch): keyed by the full triple
            c2 = F.broadcast(
                spark.createDataFrame(
                    [(l, r) for l, r, _ in cands],
                    "l2 string, r2 string",
                )
            )
            to = (
                tri.join(
                    cdf, (tri["a"] == cdf["l"]) & (tri["b"] == cdf["r"])
                )
                .join(
                    c2, (tri["b"] == c2["l2"]) & (tri["c"] == c2["r2"])
                )
                .select(
                    tri["a"].alias("l"),
                    tri["b"].alias("r"),
                    tri["c"].alias("s3"),
                    "cnt",
                    F.lit("o").alias("k"),
                )
            )
            # output-collision: the merge's output string is already a
            # pair symbol somewhere — conflation could INCREASE an
            # original pair's count, ending the batch at that merge
            ca = pairs.join(cdf, pairs["a"] == cdf["o"]).select(
                "l", "r", nul.alias("s3"),
                F.lit(0).alias("cnt"), F.lit("x").alias("k"),
            )
            cb = pairs.join(cdf, pairs["b"] == cdf["o"]).select(
                "l", "r", nul.alias("s3"),
                F.lit(0).alias("cnt"), F.lit("x").alias("k"),
            )
            for row in (
                tl.unionByName(tr).unionByName(to)
                .unionByName(ca).unionByName(cb)
                .groupBy("l", "r", "s3", "k")
                .agg(F.max("cnt").alias("m"))
                .collect()
            ):
                key = (row["l"], row["r"])
                if row["k"] == "x":
                    collide.add(key)
                elif row["k"] == "o":
                    tri3[(row["l"], row["r"], row["s3"])] = int(row["m"])
                elif int(row["m"]) > maxtri.get(key, 0):
                    maxtri[key] = int(row["m"])
        batch = _select_compatible_batch(
            cands, maxtri, collide, min_count, tri3
        )
        if not batch:
            break
        sym = F.col("sym")
        for a, b, _ in batch:
            pat, rep = F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
            for _ in range(_BPE_PASSES):
                sym = F.replace(sym, pat, rep)
        # one checkpointed pass carries BOTH syms: the new vocab and
        # the delta derivation consume it (materialize shared
        # subtrees — the replace chain must not run twice)
        upd = vocab.select(
            "w", "sym", "n", sym.alias("sym2")
        ).localCheckpoint(eager=True)
        vocab = upd.select("w", F.col("sym2").alias("sym"), "n")
        staged_d = upd.filter(F.col("sym") != F.col("sym2")).select(
            "n",
            F.split(F.trim("sym"), " ").alias("__o"),
            F.split(F.trim("sym2"), " ").alias("__s"),
        )

        def _signed(arr: Column, sign: int) -> Column:
            return F.transform(
                gram_structs(arr),
                lambda g: F.struct(
                    g["a"].alias("a"),
                    g["b"].alias("b"),
                    g["c"].alias("c"),
                    (F.lit(sign) * F.col("n")).alias("cnt"),
                ),
            )

        deltas = staged_d.select(
            F.explode(
                F.concat(
                    _signed(F.col("__s"), 1), _signed(F.col("__o"), -1)
                )
            ).alias("g")
        ).select("g.a", "g.b", "g.c", F.col("g.cnt").alias("cnt"))
        grams = (
            grams.unionByName(deltas)
            .groupBy("a", "b", "c")
            .agg(F.sum("cnt").alias("cnt"))
            .filter(F.col("cnt") != 0)
            .localCheckpoint(eager=True)
        )
        merges.extend(batch)
        rounds += 1
        sizes.append(len(batch))
    if stats is not None:
        stats["rounds"] = rounds
        stats["batch_sizes"] = sizes
    return merges, vocab


def remove_duplicated_spans(
    df,
    id_col: str,
    text_col: str,
    k: int = 8,
    min_count: int = 2,
    *,
    min_bytes: int | None = None,
):
    """ExactSubstr REMOVAL (Lee et al. 2022's acted-on form):
    duplicated_spans finds the copied regions; this pass CUTS their
    tokens out of every document — the dedup that shrinks boilerplate
    and quoted text without dropping whole documents (span_dedup's
    keep-one-copy window rung and MinHash's whole-doc rung cover the
    other granularities of the ladder). Detection floor: ``k`` tokens
    by default; pass ``min_bytes`` to cut at the paper's CHARACTER
    threshold instead (routes through exact_substr_spans — ``k`` is
    ignored then).

    Plan shape: the detection plan's exchanges, then the per-document
    span set (duplicate-region-sized, NOT corpus-sized) aggregates to
    one interval array per affected doc and joins back to the corpus
    on id — at scale that join is the pass's one unavoidable
    corpus exchange; the cut itself is a zero-shuffle indexed
    transform/filter against the row's own interval array. Documents
    with no duplicated span pass through untouched (left join +
    empty-array coalesce). Output: (id_col, clean_text,
    n_removed bigint)."""
    spans = exact_substr_spans(
        df,
        id_col,
        text_col,
        k_tokens=k if min_bytes is None else None,
        min_bytes=min_bytes,
        min_count=min_count,
    )
    sarr = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__sp")
    )
    toked = df.select(F.col(id_col), tokens(text_col).alias("__t"))
    j = toked.join(sarr, id_col, "left").select(
        F.col(id_col),
        F.col("__t"),
        F.coalesce(
            F.col("__sp"),
            F.array().cast(
                "array<struct<span_start:bigint,span_end:bigint>>"
            ),
        ).alias("__sp"),
    )
    kept = F.filter(
        F.transform(
            F.col("__t"),
            lambda x, i: F.when(
                ~F.exists(
                    F.col("__sp"),
                    lambda s: (s["span_start"] <= i + 1)
                    & (i + 1 <= s["span_end"]),
                ),
                x,
            ),
        ),
        lambda v: v.isNotNull(),
    )
    return j.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        (F.size("__t") - F.size(kept)).cast("bigint").alias("n_removed"),
    )


# ---------------------------------------------------------------------
# DSIR: data selection via importance resampling (Xie et al. 2023).
# ---------------------------------------------------------------------

DSIR_FRAC_BITS = 16
# a >= 1 and b < 2^53 bound the ratio below by 2^-53, so 56 doublings
# always reach [1, 2) — never saturates inside the valid domain.
DSIR_NORM_STEPS = 56


def fixlog2(a: int, b: int) -> int:
    """Fixed-point log2(a/b) with DSIR_FRAC_BITS fractional bits,
    computed by an algorithm using ONLY IEEE double multiply, divide-
    by-two and comparisons — operations every engine rounds
    identically (round-to-nearest-even), unlike libm ``ln``/``log2``
    whose last-ulp behavior differs between the JVM intrinsic, glibc
    and DuckDB. That makes DSIR scores bit-reproducible across
    engines: the classic normalize-by-doubling (a/b ≤ 1 always here)
    then the squaring algorithm — square the mantissa; ≥2 emits a 1
    bit and halves; each step yields the next fractional bit of log2.
    Both engines run THIS exact op sequence (Python here, an unrolled
    SQL expression chain in the oracle), so every intermediate double
    is identical. Requires 0 < a ≤ b < 2^53 (exact doubles)."""
    if not 0 < a <= b < 2**53:
        raise ValueError("fixlog2 requires 0 < a <= b < 2^53")
    m = a / b
    e = 0
    for _ in range(DSIR_NORM_STEPS):
        if m < 1.0:
            m = m * 2.0
            e = e + 1
    acc = 0
    for _ in range(DSIR_FRAC_BITS):
        m = m * m
        if m >= 2.0:
            acc = acc * 2 + 1
            m = m / 2.0
        else:
            acc = acc * 2
    return -e * (1 << DSIR_FRAC_BITS) + acc


def dsir_weights(
    df,
    id_col: str,
    text_col: str,
    target_col: str,
    buckets: int = 256,
    salt: str = "dsir",
):
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling") — the published
    method for choosing pretraining data that LOOKS LIKE a target
    corpus: featurize every document into hashed token buckets, fit
    unigram bucket distributions p (target rows, ``target_col`` true)
    and q (all rows), and score each document by the log-likelihood
    ratio  Σ_b c_b · (log p_b − log q_b)  with add-one smoothing.
    Top-scoring documents are the ones importance resampling keeps.

    Integer-exact twist: the per-bucket log-ratios λ_b are fixed-point
    integers from ``fixlog2`` (scaled 2^16, IEEE-deterministic), so a
    document's score is an exact BIGINT dot product — reproducible
    bit-for-bit on any engine, no libm in sight.

    Plan shape (100 TB): the bucket-distribution pass is ONE partial
    aggregate down to ≤ ``buckets`` rows (driver-collected O(KB), the
    t_temperature_mix discipline); λ broadcasts back as a plan-literal
    map, so scoring is the per-document bucket-count aggregate — one
    data-proportional exchange carrying (id, bucket) pairs — then a
    zero-shuffle map lookup. Output: (id_col, n_tokens bigint,
    dsir_score bigint; higher = more target-like).
    """
    from pyspark.sql import DataFrame  # noqa: F401

    b = df.select(
        F.col(id_col),
        F.col(target_col).alias("__is_t"),
        F.explode(tokens(text_col)).alias("__tok"),
    ).select(
        id_col,
        "__is_t",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("#", F.lit(salt), F.col("__tok"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(buckets),
        ).alias("__bkt"),
    )
    pq = (
        b.groupBy("__bkt")
        .agg(
            F.sum(F.when(F.col("__is_t"), 1).otherwise(0)).alias("cp"),
            F.count("*").alias("cq"),
        )
        .collect()
    )
    n_p = sum(r.cp for r in pq)
    n_q = sum(r.cq for r in pq)
    lam = {
        r["__bkt"]: fixlog2(r["cp"] + 1, n_p + buckets)
        - fixlog2(r["cq"] + 1, n_q + buckets)
        for r in pq
    }
    pairs: list = []
    for k, v in sorted(lam.items()):
        pairs.append(F.lit(int(k)))
        pairs.append(F.lit(int(v)))
    lam_map = F.create_map(*pairs)
    return (
        b.groupBy(id_col, "__bkt")
        .agg(F.count("*").alias("__c"))
        .select(
            id_col,
            F.col("__c"),
            lam_map[F.col("__bkt")].alias("__lam"),
        )
        .groupBy(id_col)
        .agg(
            F.sum("__c").cast("bigint").alias("n_tokens"),
            F.sum(F.col("__c") * F.col("__lam"))
            .cast("bigint")
            .alias("dsir_score"),
        )
    )


def with_fixlog2(df, a_col: str, b_col: str, out_col: str):
    """Column-level fixlog2: appends ``out_col`` = fixed-point
    log2(a/b)·2^16 computed by the SAME IEEE multiply/halve/compare
    recurrence as the scalar ``fixlog2`` — unrolled as a chain of
    withColumn projections. Named intermediate attributes keep the
    expression tree LINEAR (Catalyst's CollapseProject declines to
    merge projections that would duplicate non-cheap expressions, so
    no 2^72 inlining); everything stays JVM-side whole-stage codegen.
    Rows must satisfy 0 < a ≤ b (< 2^53); violations yield undefined
    values rather than errors — gate upstream. Drops no rows, adds no
    shuffles."""
    df = df.withColumn(
        "__flm", F.col(a_col).cast("double") / F.col(b_col).cast("double")
    ).withColumn("__fle", F.lit(0))
    for _ in range(DSIR_NORM_STEPS):
        df = df.withColumn(
            "__fle",
            F.col("__fle") + F.when(F.col("__flm") < 1.0, 1).otherwise(0),
        ).withColumn(
            "__flm",
            F.when(F.col("__flm") < 1.0, F.col("__flm") * 2.0).otherwise(
                F.col("__flm")
            ),
        )
    df = df.withColumn("__fla", F.lit(0))
    for _ in range(DSIR_FRAC_BITS):
        df = (
            df.withColumn("__fls", F.col("__flm") * F.col("__flm"))
            .withColumn(
                "__fla",
                F.col("__fla") * 2
                + F.when(F.col("__fls") >= 2.0, 1).otherwise(0),
            )
            .withColumn(
                "__flm",
                F.when(
                    F.col("__fls") >= 2.0, F.col("__fls") / 2.0
                ).otherwise(F.col("__fls")),
            )
        )
    return df.withColumn(
        out_col,
        (
            -F.col("__fle") * F.lit(1 << DSIR_FRAC_BITS) + F.col("__fla")
        ).cast("bigint"),
    ).drop("__flm", "__fle", "__fla", "__fls")


def backoff_lm_scores(df, id_col: str, text_col: str, train_col: str):
    """Stupid Backoff document log-probability scores (Brants et al.
    2007, "Large Language Models in Machine Translation" — the
    web-scale LM scoring rule that skips proper discounting):

        S(w_i | w_{i-1}) = cb(w_{i-1} w_i) / cu(w_{i-1})   if seen
                         = 0.4 · (cu(w_i)+1) / (N + V)     otherwise

    with counts from the TRAINING slice (``train_col`` true) and
    add-one smoothing on the backoff unigram so unseen words stay in
    domain. Score(doc) = Σ_i log2 S_i as a fixed-point 2^16 integer:
    0.4·x = 2x/5, so each term is fixlog2 of exact integer pairs —
    engine-reproducible bit-for-bit, libm-free (with_fixlog2).

    Plan (100 TB): bigram/unigram count tables are corpus aggregates
    (one exchange each, map-side combined, vocab-sized output); N and
    V are a 2-scalar driver collect; scoring joins each adjacent
    token pair against the count tables (hash joins keyed on tokens —
    vocab-sized build sides) and the fixlog2 chain is zero-shuffle
    codegen. Output: (id_col, n_scored bigint = adjacent pairs,
    backoff_score bigint; higher = more fluent under the training
    LM). Documents with fewer than two tokens produce no row."""
    base = df.select(
        F.col(id_col), F.col(train_col).alias("__tr"), tokens(text_col).alias("__t")
    )
    toks = base.select(
        id_col, "__tr", F.explode("__t").alias("__tok")
    )
    train_toks = toks.filter(F.col("__tr"))
    uni = train_toks.groupBy("__tok").agg(F.count("*").alias("__cu"))
    n_row = train_toks.agg(
        F.count("*").alias("n"), F.count_distinct("__tok").alias("v")
    ).head()
    n_tot, vocab = int(n_row["n"]), int(n_row["v"])
    # sequence(2, n) DESCENDS for n < 2 (and element_at would then be
    # handed index 0) — single-token/empty docs must be gated first.
    pairs = base.filter(F.size("__t") >= 2).select(
        id_col,
        "__tr",
        F.explode(
            F.expr(
                "transform(sequence(2, size(__t)), "
                "i -> struct(element_at(__t, i-1) AS prev, "
                "element_at(__t, i) AS cur))"
            )
        ).alias("__p"),
    ).select(
        id_col,
        "__tr",
        F.col("__p.prev").alias("__prev"),
        F.col("__p.cur").alias("__cur"),
    )
    big = (
        pairs.filter(F.col("__tr"))
        .groupBy("__prev", "__cur")
        .agg(F.count("*").alias("__cb"))
    )
    scored = (
        pairs.join(big, ["__prev", "__cur"], "left")
        .join(
            uni.withColumnRenamed("__tok", "__prev").withColumnRenamed(
                "__cu", "__cup"
            ),
            "__prev",
            "left",
        )
        .join(
            uni.withColumnRenamed("__tok", "__cur").withColumnRenamed(
                "__cu", "__cuc"
            ),
            "__cur",
            "left",
        )
        .withColumn(
            "__a",
            F.when(F.col("__cb").isNotNull(), F.col("__cb")).otherwise(
                2 * (F.coalesce(F.col("__cuc"), F.lit(0)) + 1)
            ),
        )
        .withColumn(
            "__b",
            F.when(F.col("__cb").isNotNull(), F.col("__cup")).otherwise(
                F.lit(5 * (n_tot + vocab))
            ),
        )
    )
    return (
        with_fixlog2(scored, "__a", "__b", "__s")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("bigint").alias("n_scored"),
            F.sum("__s").cast("bigint").alias("backoff_score"),
        )
    )


def span_corruption(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_len: int = 3,
    period: int = 20,
    seeded: bool = False,
):
    """T5/UL2-style span-corruption objective prep: mask deterministic
    token spans with incrementing sentinels and emit the (corrupted
    input, target) pair the denoising objective trains on (Raffel et
    al. 2020 §3.1.4 — sentinel per dropped span, targets are the
    dropped spans delimited by their sentinels).

    DETERMINISTIC masking (replayable, oracle-checkable — the engine's
    no-RNG rule, SURVEY §7.4.7): the token stream partitions into
    consecutive ``period``-token blocks; each block's FIRST
    ``span_len`` tokens are masked under sentinel ``<extra_id_B>``
    (B = block index). Corruption rate = span_len/period (defaults
    3/20 = 15%, the T5 paper's rate with mean span 3).

    ``seeded=True`` swaps the span's in-block START from 0 to a
    position drawn from md5(doc_id, block) — hash-then-join key
    (md5(id)||md5(block), each element md5'd so keys can't alias),
    first 15 hex digits as BIGINT (portable: Spark conv(hex,16,10)
    == DuckDB ('0x'||hex)::BIGINT), modulo the valid start range.
    The masked span is no longer a corpus-wide distribution artifact
    ("first tokens of every block") yet stays replayable and
    oracle-checkable — the engine's no-RNG seeding idiom. Rate is
    EXACTLY span_len/period either way; block/sentinel mechanics and
    the reconstruction invariant are shared. The offset hash is
    evaluated once per output surface (2x per block, md5 of two
    short strings) — still O(tokens) per row, zero shuffle; cheaper
    than breaking the pure projection with a checkpoint barrier to
    share the subtree.

    Pure PROJECTION: blocks, sentinels, both surfaces, and the counts
    are per-row array expressions (sequence/transform/slice/flatten)
    — zero shuffle, no UDF, whole-stage codegen; corrupting 100 TB is
    a map. Reconstruction invariant (property-tested): splicing each
    target span back over its sentinel reproduces the original text.

    Output: (id_col, corrupted, targets, n_spans, n_masked) —
    corrupted/targets as space-joined strings (scalar for the driver
    hash gate), n_spans = blocks touched, n_masked = tokens dropped.
    A document shorter than one full span still yields one sentinel
    block (its visible remainder may be empty) — the objective keeps
    the example, it does not silently drop short docs.
    """
    if not 0 < span_len < period:
        raise ValueError(
            f"need 0 < span_len < period; got {span_len}, {period}"
        )
    toks = tokens(text_col)
    staged = df.select(F.col(id_col), toks.alias("__w"))
    w = F.col("__w")
    nblocks = F.ceil(F.size(w) / F.lit(period)).cast("int")
    blocks = F.sequence(F.lit(0), nblocks - F.lit(1))

    def sentinel(b: Column) -> Column:
        return F.concat(F.lit("<extra_id_"), b.cast("string"), F.lit(">"))

    if seeded:
        doc_key = F.md5(F.col(id_col).cast("string"))

        def geom(b: Column):
            """(block_len, cut_len, offset) for block b — offset from
            the (doc_id, block) hash, clamped to keep the span inside
            the block; short trailing blocks mask whole (off=0)."""
            blk_len = F.least(F.lit(period), F.size(w) - b * period)
            cut_len = F.least(F.lit(span_len), blk_len)
            h = md5_hex15_bigint(
                F.concat(doc_key, F.md5(b.cast("string")))
            )
            off = (h % (blk_len - cut_len + 1).cast("bigint")).cast("int")
            return blk_len, cut_len, off

        def corrupted_block(b: Column) -> Column:
            blk_len, cut_len, off = geom(b)
            return F.concat(
                F.slice(w, b * period + 1, off),
                F.array(sentinel(b)),
                F.slice(
                    w,
                    b * period + off + cut_len + 1,
                    blk_len - off - cut_len,
                ),
            )

        def target_block(b: Column) -> Column:
            blk_len, cut_len, off = geom(b)
            return F.concat(
                F.array(sentinel(b)),
                F.slice(w, b * period + off + 1, cut_len),
            )

        corrupted_parts = F.flatten(F.transform(blocks, corrupted_block))
        target_parts = F.flatten(F.transform(blocks, target_block))
    else:
        corrupted_parts = F.flatten(
            F.transform(
                blocks,
                lambda b: F.concat(
                    F.array(sentinel(b)),
                    F.slice(
                        w, b * period + span_len + 1, period - span_len
                    ),
                ),
            )
        )
        target_parts = F.flatten(
            F.transform(
                blocks,
                lambda b: F.concat(
                    F.array(sentinel(b)),
                    F.slice(w, b * period + 1, span_len),
                ),
            )
        )
    empty = F.size(w) == 0
    return staged.select(
        F.col(id_col),
        F.when(empty, F.lit("")).otherwise(
            F.array_join(corrupted_parts, " ")
        ).alias("corrupted"),
        F.when(empty, F.lit("")).otherwise(
            F.array_join(target_parts, " ")
        ).alias("targets"),
        F.when(empty, F.lit(0)).otherwise(nblocks)
        .cast("bigint")
        .alias("n_spans"),
        F.when(empty, F.lit(0)).otherwise(
            F.size(target_parts) - nblocks
        )
        .cast("bigint")
        .alias("n_masked"),
    )


def fim_transform(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    prefix_milli: int = 400,
    middle_milli: int = 300,
    spm: bool = False,
    seeded: bool = False,
):
    """Fill-in-the-middle objective prep (Bavarian et al. 2022; the
    StarCoder/code-model training transform): split each document into
    (prefix, middle, suffix) and re-render with FIM sentinels so a
    causal LM learns infilling. PSM order by default —
    ``<fim_prefix>P<fim_suffix>S<fim_middle>M`` — or SPM
    (``<fim_suffix>S<fim_prefix>P<fim_middle>M``) with ``spm=True``;
    training mixes both, so the order is a flag, not a fork.

    DETERMINISTIC split (the engine's no-RNG rule): boundaries at
    floor(n·prefix_milli/1000) and +floor(n·middle_milli/1000) tokens.

    ``seeded=True`` draws the two cut points the way the paper does —
    two uniform positions in [0, n], sorted — but from per-document
    hashes instead of an RNG: c_a/c_b = first 15 hex digits of
    md5(md5(doc_id)||md5('fim_a'/'fim_b')) as BIGINT, modulo n+1
    (hash-then-join key discipline; the conv(hex,16,10) idiom is
    DuckDB-portable, so the variant stays oracle-checkable). Then
    prefix = [0, lo), middle = [lo, hi), suffix = [hi, n). The milli
    parameters are ignored in seeded mode (boundaries are per-doc
    draws, not fixed fractions); sentinel/render mechanics and the
    partition property are shared with the deterministic path.

    Pure PROJECTION (slice/array_join over the token array): zero
    shuffle, no UDF — transforming 100 TB is a map. The split
    partition property (prefix ++ middle ++ suffix == tokens) is
    tested. Docs too short to split (fewer than 3 tokens may yield
    empty segments) still render — empty segments are legal FIM
    (the paper keeps them), the sentinels simply adjoin.

    Output: (id_col, fim, n_prefix, n_middle, n_suffix).
    """
    if prefix_milli < 0 or middle_milli < 0 or prefix_milli + middle_milli > 1000:
        raise ValueError(
            "need prefix_milli, middle_milli >= 0 and sum <= 1000; "
            f"got {prefix_milli}, {middle_milli}"
        )
    staged = df.select(F.col(id_col), tokens(text_col).alias("__w"))
    w = F.col("__w")
    n = F.size(w)
    if seeded:
        doc_key = F.md5(F.col(id_col).cast("string"))

        def cut(tag: str) -> Column:
            h = md5_hex15_bigint(F.concat(doc_key, F.md5(F.lit(tag))))
            return (h % (n + 1).cast("bigint")).cast("int")

        c_a, c_b = cut("fim_a"), cut("fim_b")
        p_len = F.least(c_a, c_b)
        m_len = F.greatest(c_a, c_b) - p_len
    else:
        # integer `div`, not floor-of-double: bit-exact by construction
        # for any n (all operands positive, so Spark div == DuckDB //),
        # keeping the package's no-float discipline in the boundary math
        p_len = F.expr(
            f"cast(size(__w) as bigint) * {prefix_milli} div 1000"
        ).cast("int")
        m_len = F.expr(
            f"cast(size(__w) as bigint) * {middle_milli} div 1000"
        ).cast("int")
    prefix = F.array_join(F.slice(w, 1, p_len), " ")
    middle = F.array_join(F.slice(w, p_len + 1, m_len), " ")
    suffix = F.array_join(
        F.slice(w, p_len + m_len + 1, n - p_len - m_len), " "
    )
    if spm:
        rendered = F.concat(
            F.lit("<fim_suffix>"), suffix,
            F.lit("<fim_prefix>"), prefix,
            F.lit("<fim_middle>"), middle,
        )
    else:
        rendered = F.concat(
            F.lit("<fim_prefix>"), prefix,
            F.lit("<fim_suffix>"), suffix,
            F.lit("<fim_middle>"), middle,
        )
    return staged.select(
        F.col(id_col),
        rendered.alias("fim"),
        p_len.cast("bigint").alias("n_prefix"),
        m_len.cast("bigint").alias("n_middle"),
        (n - p_len - m_len).cast("bigint").alias("n_suffix"),
    )
