"""Edge cases for the web-curation operators (operators/web.py) and
the Gopher/collision/inverted-index text additions — hand-built rows
covering what the catalog queries' synthetic URLs can't: missing
scheme, empty text, all-tracking query strings, sub-min_df terms."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from mongodb_etl_migration_spark.operators import text as T
from mongodb_etl_migration_spark.operators import web as W


# ---------------------------------------------------------------------
# Plain-Python references and test-input builders
# ---------------------------------------------------------------------


def ngrams_array(
    c: Column | str, n: int, toks: Column | None = None
) -> Column:
    """Adjacent-token n-grams as 'a b c' strings for any n >= 1 — the
    Column-API form the gram folds are checked against. Fewer than n
    tokens -> empty array (sequence(1, 0) would step DOWNWARD)."""
    toks = T.tokens(c) if toks is None else toks
    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - (n - 1)),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def bpe_train_reference(
    word_counts: dict[str, int], n_merges: int, min_count: int = 2
) -> list[tuple[str, str, int]]:
    """Plain-Python reference BPE TRAINER (Sennrich et al. 2016): per
    round, count adjacent symbol pairs over the weighted vocabulary
    (overlapping run pairs count, the standard zip-adjacent rule),
    merge the most frequent everywhere (ties: lexicographically
    smallest pair), stop when the best count drops below
    ``min_count``. Returns (left, right, pair_count) in rank order —
    the ground truth bpe_train is tested against."""
    vocab = {
        " " + " ".join(w) + " ": int(c) for w, c in word_counts.items() if w
    }
    merges: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        counts: dict[tuple[str, str], int] = {}
        for sym, c in vocab.items():
            parts = sym.split()
            for a, b in zip(parts, parts[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), n = best
        if n < min_count:
            break
        merges.append((a, b, n))
        pat, rep = f" {a} {b} ", f" {a}{b} "
        vocab = {
            _replace_passes(sym, pat, rep): c for sym, c in vocab.items()
        }
    return merges


def _replace_passes(s: str, pat: str, rep: str) -> str:
    for _ in range(T._BPE_PASSES):
        s = s.replace(pat, rep)
    return s


def _apply_merge_batch(
    parts: list[str],
    batch: list[tuple[str, str]] | dict[tuple[str, str], str],
) -> list[str]:
    """Apply a compatible merge batch in ONE combined multi-pass scan
    — provably equal to the rank-order per-pair replace chain the
    Spark path runs (and _apply_pair_passes implements), because
    _select_compatible_batch guarantees accepted pairs never contend
    for a token occurrence: cross-side symbol sharing is only
    accepted when the linking triple count is ZERO (no occurrence
    where the two pairs touch), same-side sharing cannot overlap by
    construction, and outputs are fresh strings no other batch pair
    references — so every position's merge fate is pair-independent
    and one left-to-right scan settles them all. The per-pair
    string-replace skip rule (a replacement consumes its trailing
    delimiter, so the SAME pair cannot start a match immediately
    after its own replacement within a pass) is kept via ``last``;
    a DIFFERENT pair matching there merges, exactly as its own
    separate replace call would. O(word_len · passes) instead of
    O(word_len · batch) — the difference between minutes and hours
    per round at 4k-wide batches. ``batch`` may be a prebuilt
    {(l, r): l+r} dict (hoist it out of per-word loops — profiling
    showed the per-word dictcomp costing more than the scan)."""
    out = (
        batch
        if isinstance(batch, dict)
        else {(l, r): l + r for l, r in batch}
    )
    for _ in range(T._BPE_PASSES):
        res: list[str] = []
        i = 0
        n = len(parts)
        changed = False
        last: tuple[str, str] | None = None
        while i < n:
            p = (parts[i], parts[i + 1]) if i + 1 < n else None
            if p is not None and p != last and p in out:
                res.append(out[p])
                i += 2
                changed = True
                last = p
            else:
                res.append(parts[i])
                i += 1
                last = None
        parts = res
        if not changed:
            break
    return parts


def bpe_train_batched_reference(
    word_counts: dict[str, int],
    n_merges: int,
    min_count: int = 2,
    batch_cap: int = 256,
    stats: dict | None = None,
    on_round=None,
) -> list[tuple[str, str, int]]:
    """Plain-Python BATCHED BPE trainer — bpe_train's schedule twin:
    identical counts, identical _select_compatible_batch calls,
    identical merge application, so its trajectory AND round count
    are the Spark trainer's by construction (property-tested equal to
    the sequential bpe_train_reference). Exists so a 50k-merge round
    -count measurement costs seconds instead of 50k Spark jobs; pass
    ``stats`` to receive {'rounds': N, 'batch_sizes': [...]}."""
    vocab: list[tuple[list[str], int]] = [
        (list(w), int(c)) for w, c in word_counts.items() if w
    ]
    merges: list[tuple[str, str, int]] = []
    rounds = 0
    sizes: list[int] = []
    while len(merges) < n_merges:
        cap = min(batch_cap, n_merges - len(merges))
        pair_counts: dict[tuple[str, str], int] = {}
        tri_counts: dict[tuple[str, str, str], int] = {}
        for parts, c in vocab:
            for j in range(len(parts) - 1):
                p = (parts[j], parts[j + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        if not pair_counts:
            break
        order = sorted(
            pair_counts.items(), key=lambda kv: (-kv[1], kv[0])
        )
        cands = [(l, r, c) for (l, r), c in order[:cap]]
        cset = {(l, r) for l, r, _ in cands}
        # second pass restricted to candidate-adjacent triples — the
        # only ones maxtri/tri3 can ever query (mirrors the Spark
        # side, where the triple frame joins against the broadcast
        # candidate relation before collecting)
        maxtri: dict[tuple[str, str], int] = {}
        tri3: dict[tuple[str, str, str], int] = {}
        for parts, c in vocab:
            for j in range(len(parts) - 2):
                a, b, c3 = parts[j], parts[j + 1], parts[j + 2]
                lp, rp = (a, b) in cset, (b, c3) in cset
                if not (lp or rp):
                    continue
                t = (a, b, c3)
                n = tri_counts.get(t, 0) + c
                tri_counts[t] = n
                if lp and n > maxtri.get((a, b), 0):
                    maxtri[(a, b)] = n
                if rp and n > maxtri.get((b, c3), 0):
                    maxtri[(b, c3)] = n
                if lp and rp:
                    tri3[t] = n
        syms = {s for p in pair_counts for s in p}
        collide = {(l, r) for l, r, _ in cands if l + r in syms}
        batch = T._select_compatible_batch(
            cands, maxtri, collide, min_count, tri3
        )
        if not batch:
            break
        out = {(l, r): l + r for l, r, _ in batch}
        vocab = [(_apply_merge_batch(p, out), c) for p, c in vocab]
        merges.extend(batch)
        rounds += 1
        sizes.append(len(batch))
        if on_round is not None:
            on_round(rounds, len(merges))
    if stats is not None:
        stats["rounds"] = rounds
        stats["batch_sizes"] = sizes
    return merges


def merges_to_text(merges: list[tuple[str, str]] | list[tuple[str, str, int]]) -> str:
    """Serialize a merge table (learned by bpe_train or hand-built)
    into the published merges.txt format parse_merges reads — the
    export half of the tokenizer round-trip (train → ship → load →
    encode). Counts, if present, are dropped (the format carries rank
    order only)."""
    lines = ["#version: 0.2"]
    for m in merges:
        a, b = m[0], m[1]
        if " " in a or " " in b or not a or not b:
            raise ValueError(f"unserializable merge pair ({a!r}, {b!r})")
        lines.append(f"{a} {b}")
    return "\n".join(lines) + "\n"


def _urls(spark, rows):
    return spark.createDataFrame([(i, u) for i, u in enumerate(rows)], "id int, url string")


def _canonical(df, url_col="url"):
    """``df`` plus its canonical URL ``c``, built from the part columns."""
    parts = W.with_url_parts(df, url_col)
    return parts.select(
        *df.columns,
        W.canonical_from_parts(
            F.col("__url_scheme"), F.col("__url_host"),
            F.col("__url_path"), F.col("__url_q"),
        ).alias("c"),
    )


def test_url_parts_well_formed(spark):
    df = _urls(spark, ["https://WWW.Ex.COM:443/A/b/?utm_source=x&p=1#frag"])
    row = _canonical(df).select(
        W.url_scheme("url").alias("s"),
        W.url_host("url").alias("h"),
        W.registered_domain("url").alias("d"),
        W.url_path("url").alias("p"),
        W.path_depth_of(W.url_path("url")).alias("n"),
        "c",
    ).first()
    assert row.s == "https"
    assert row.h == "www.ex.com"
    assert row.d == "ex.com"
    assert row.p == "/A/b"  # case preserved, trailing slash stripped
    assert row.n == 2
    assert row.c == "https://www.ex.com/A/b?p=1"


def test_url_parts_missing_scheme_is_null(spark):
    df = _urls(spark, ["www.ex.com/a", "not a url at all", ""])
    rows = _canonical(df).select(
        W.url_scheme("url").alias("s"),
        W.url_host("url").alias("h"),
        "c",
    ).collect()
    assert all(r.s is None and r.h is None and r.c is None for r in rows)


def test_canonicalize_drops_all_tracking_query(spark):
    # every param is tracking -> no '?' at all in the canonical form
    df = _urls(spark, ["http://a.com/x?utm_a=1&gclid=2&fbclid=3"])
    assert _canonical(df).first().c == "http://a.com/x"


def test_canonicalize_root_path_and_ports(spark):
    df = _urls(
        spark,
        ["http://A.com:80", "http://a.com:8080/", "https://a.com/#f"],
    )
    got = [r.c for r in _canonical(df).collect()]
    # default port dropped; non-default port kept; '' and '/' paths -> '/'
    assert got == ["http://a.com/", "http://a.com:8080/", "https://a.com/"]
    # ...but the port never leaks into the registered domain
    dom = df.select(W.registered_domain("url").alias("d")).collect()
    assert [r.d for r in dom] == ["a.com", "a.com", "a.com"]


def test_url_dedup_first_wins_orders_by_key(spark):
    df = spark.createDataFrame(
        [
            (3, "https://a.com/x?utm_b=1"),
            (1, "https://A.COM/x#frag"),
            (2, "https://a.com/y"),
        ],
        "id int, url string",
    )
    got = sorted(
        r.id for r in W.url_dedup_first_wins(df, "url", "id").collect()
    )
    assert got == [1, 2]  # id=3 collapses into id=1's canonical URL


def test_gopher_flags_empty_and_short_text(spark):
    df = spark.createDataFrame([("",), ("the and with of that be to have ok",)], "text string")
    flags = T.gopher_quality_flags("text")
    rows = df.select(*[c.alias(n) for n, c in flags.items()]).collect()
    empty, short = rows
    assert empty.n_words == 0 and not empty.words_ok and not empty.symbol_ok
    assert not empty.gopher_pass
    # 9 words: stopwords present but below the 50-word floor
    assert short.stop_ok and not short.words_ok and not short.gopher_pass


def test_collision_stats_exact_counts(spark):
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "x y z"), (3, "")], "id long, text string"
    )
    got = {
        r.id: (r.total_tokens, r.collisions, r.collision_prob)
        for r in T.collision_stats(df, "id", "text").collect()
    }
    assert got[1] == (4, 10, 10 / 16)  # 3a+1b -> 9+1
    assert got[2] == (3, 3, 3 / 9)
    assert got[3] == (0, 0, None)


def test_inverted_index_caps_postings_and_min_df(spark):
    rows = [(i, "common word%d" % (i % 2)) for i in range(30)]
    df = spark.createDataFrame(rows, "id long, text string")
    idx = {r.term: r for r in T.inverted_index(df, "id", "text", min_df=2, max_postings=5).collect()}
    assert idx["common"].df == 30  # df counts the FULL posting set
    assert idx["common"].postings == "0,1,2,3,4"  # capped at 5 smallest
    assert idx["word0"].df == 15
    # a term in a single doc is dropped by min_df
    one = spark.createDataFrame([(1, "unique common"), (2, "common")], "id long, text string")
    terms = {r.term for r in T.inverted_index(one, "id", "text", min_df=2).collect()}
    assert terms == {"common"}


def test_rare_bigram_stats_exact(spark):
    df = spark.createDataFrame(
        [
            (1, "a b a b"),   # bigrams: "a b","b a","a b"
            (2, "a b c"),     # "a b","b c"
            (3, "x"),         # no bigrams
        ],
        "id long, text string",
    )
    got = {
        r.id: (r.n_bigrams, r.n_rare, r.rare_ratio)
        for r in T.rare_bigram_stats(df, "id", "text", min_count=2).collect()
    }
    # corpus counts: "a b"=3, "b a"=1, "b c"=1
    assert got[1] == (3, 1, 1 / 3)
    assert got[2] == (2, 1, 1 / 2)
    assert got[3] == (0, 0, None)  # <2 tokens re-admitted by the spine join


def test_canonicalize_idempotent_property(spark):
    """canonicalize(canonicalize(u)) == canonicalize(u): the canonical
    form must be a fixed point, or chained pipelines would dedup on
    drifting keys. Checked over a deterministic grid of URL shapes."""
    hosts = ["A.Ex.COM", "a.ex.com:443", "a.ex.com:8080", "ex.com"]
    paths = ["", "/", "/A/b/", "/x"]
    queries = ["", "?utm_a=1", "?p=1&utm_b=2", "?p=1&q=2"]
    frags = ["", "#f"]
    urls = [
        f"https://{h}{p}{q}{f}"
        for h in hosts
        for p in paths
        for q in queries
        for f in frags
    ]
    df = _urls(spark, urls)
    once = _canonical(df).select("id", F.col("c").alias("url"))
    twice = _canonical(once).select("id", F.col("c").alias("url"))
    a = {r.id: r.url for r in once.collect()}
    b = {r.id: r.url for r in twice.collect()}
    assert a == b


def test_table_checksum_order_independent_and_content_sensitive(spark):
    from mongodb_etl_migration_spark.operators.validation import table_checksum

    a = spark.createDataFrame([(1, "x"), (2, "y")], "id long, s string")
    b = spark.createDataFrame([(2, "y"), (1, "x")], "id long, s string")
    c = spark.createDataFrame([(1, "x"), (2, "z")], "id long, s string")
    null_row = spark.createDataFrame([(1, None), (2, "y")], "id long, s string")
    ca = table_checksum(a, ["id", "s"]).first()
    cb = table_checksum(b, ["id", "s"]).first()
    cc = table_checksum(c, ["id", "s"]).first()
    cn = table_checksum(null_row, ["id", "s"]).first()
    assert ca == cb                       # row order invisible
    assert ca.checksum != cc.checksum     # content visible
    assert ca.checksum != cn.checksum     # NULL sentinel distinct from 'x'


def test_table_checksum_field_boundaries_are_pinned(spark):
    from mongodb_etl_migration_spark.operators.validation import table_checksum

    # same '|'-joined content, different column split: must differ
    a = spark.createDataFrame([("a|b", "c")], "x string, y string")
    b = spark.createDataFrame([("a", "b|c")], "x string, y string")
    # literal '<null>'-ish strings must not collide with NULL either
    c = spark.createDataFrame([("N", None)], "x string, y string")
    d = spark.createDataFrame([(None, "N")], "x string, y string")
    cks = [
        table_checksum(df, ["x", "y"]).first().checksum for df in (a, b, c, d)
    ]
    assert len(set(cks)) == 4


def test_psl_registered_domain_diverges_from_heuristic(spark):
    rows = [
        ("www.example.co.uk",),     # heuristic says co.uk — wrong
        ("deep.a.b.example.co.uk",),
        ("news.example.com.au",),
        ("school.nsw.edu.au",),     # 3-label suffix: school.nsw.edu.au
        ("www.example.com",),       # plain TLD: heuristic already right
        ("co.uk",),                 # host IS a suffix: no registrable domain
        ("uk",),                    # single label: nothing registrable
        ("api.example.github.io",), # private-section suffix
    ]
    df = spark.createDataFrame(rows, "host string")
    out = {
        r.host: (r.heuristic, r.registered_domain)
        for r in W.with_registered_domain(df, "host")
        .withColumn("heuristic", W.domain_of(F.col("host")))
        .collect()
    }
    assert out["www.example.co.uk"] == ("co.uk", "example.co.uk")
    assert out["deep.a.b.example.co.uk"] == ("co.uk", "example.co.uk")
    assert out["news.example.com.au"] == ("com.au", "example.com.au")
    assert out["school.nsw.edu.au"] == ("edu.au", "school.nsw.edu.au")
    assert out["www.example.com"] == ("example.com", "example.com")
    assert out["co.uk"] == ("co.uk", None)
    assert out["uk"] == (None, None)
    assert out["api.example.github.io"] == ("github.io", "example.github.io")


def test_psl_wildcard_and_exception_rules(spark):
    """Full publicsuffix.org algorithm over wildcard (`*.ck`,
    `*.kawasaki.jp`) and exception (`!www.ck`, `!city.kawasaki.jp`)
    rule classes: a wildcard makes EVERY single label under its base
    a public suffix (so such hosts register one label deeper, and the
    (b+1)-label host itself has no registrable domain), while an
    exception carves its rule back out as registrable — including for
    hosts beneath it."""
    rows = [
        ("foo.ck",),            # public suffix under *.ck -> NULL
        ("www.foo.ck",),        # registers under the wildcard suffix
        ("a.b.foo.ck",),        # deeper host, same registrable
        ("www.ck",),            # exception: registrable despite *.ck
        ("sub.www.ck",),        # under the exception -> www.ck
        ("ck",),                # bare TLD: nothing registrable
        ("bar.kawasaki.jp",),   # 2-label wildcard base -> suffix -> NULL
        ("shop.bar.kawasaki.jp",),
        ("city.kawasaki.jp",),  # exception
        ("x.city.kawasaki.jp",),
        ("example.jp",),        # plain TLD fallback unaffected
    ]
    df = spark.createDataFrame(rows, "host string")
    out = {
        r.host: r.registered_domain
        for r in W.with_registered_domain(df, "host").collect()
    }
    assert out == {
        "foo.ck": None,
        "www.foo.ck": "www.foo.ck",
        "a.b.foo.ck": "b.foo.ck",
        "www.ck": "www.ck",
        "sub.www.ck": "www.ck",
        "ck": None,
        "bar.kawasaki.jp": None,
        "shop.bar.kawasaki.jp": "shop.bar.kawasaki.jp",
        "city.kawasaki.jp": "city.kawasaki.jp",
        "x.city.kawasaki.jp": "city.kawasaki.jp",
        "example.jp": "example.jp",
    }


def test_psl_label_counts_derived_from_rules(spark):
    """Label-count ranges are DERIVED from the supplied rule set, not
    hardcoded to 2-4 labels: the real PSL's private section carries
    5-label plain entries (amazonaws.com S3 dualstack endpoints) and
    this must produce the right eTLD+1 instead of silently falling
    back to the 2-label default (round-7 advice)."""
    rules = W.parse_psl(
        "com\nco.uk\n"
        "s3.dualstack.ap-south-1.amazonaws.com\n"  # 5-label plain
        "*.deep.sub.example\n"                     # 3-label wildcard base
        "!ok.deep.sub.example\n"                   # 4-label exception
    )
    rows = [
        ("bucket.s3.dualstack.ap-south-1.amazonaws.com",),  # suffix+1
        ("x.bucket.s3.dualstack.ap-south-1.amazonaws.com",),
        ("s3.dualstack.ap-south-1.amazonaws.com",),  # IS a suffix
        ("plain.amazonaws.com",),                    # only 'com' matches
        ("any.deep.sub.example",),                   # wildcard suffix
        ("host.any.deep.sub.example",),              # registers deeper
        ("ok.deep.sub.example",),                    # exception carve-out
        ("a.ok.deep.sub.example",),
        ("deep.sub.example",),  # == wildcard BASE: rule doesn't match
    ]
    df = spark.createDataFrame(rows, "host string")
    out = {
        r.host: r.registered_domain
        for r in W.with_registered_domain(df, "host", rules=rules).collect()
    }
    assert out == {
        "bucket.s3.dualstack.ap-south-1.amazonaws.com":
            "bucket.s3.dualstack.ap-south-1.amazonaws.com",
        "x.bucket.s3.dualstack.ap-south-1.amazonaws.com":
            "bucket.s3.dualstack.ap-south-1.amazonaws.com",
        "s3.dualstack.ap-south-1.amazonaws.com": None,
        "plain.amazonaws.com": "amazonaws.com",
        "any.deep.sub.example": None,
        "host.any.deep.sub.example": "host.any.deep.sub.example",
        "ok.deep.sub.example": "ok.deep.sub.example",
        "a.ok.deep.sub.example": "ok.deep.sub.example",
        # '*' must consume a label; the base host falls through to
        # the default rule ('example' TLD) -> 2-label registrable
        "deep.sub.example": "sub.example",
    }


def test_psl_check_public_suffix_vectors(spark):
    """publicsuffix.org's published checkPublicSuffix test vectors
    (libpsl test_psl.txt) against the FULL vendored snapshot:
    unlisted-TLD default, listed 2-label suffixes, 3-label plain
    (ide.kyoto.jp), us-state shapes (k12.ak.us), wildcard *.mm /
    *.ck / *.kobe.jp, exception !www.ck / !city.kobe.jp,
    private-section suffixes (uk.com), and the IDN vectors in BOTH
    published Unicode form (公司.cn) and punycode twin form
    (xn--55qx5d.cn — added by default_psl_rules). Hosts are
    pre-lowercased (with_registered_domain's contract — url_host
    lowercases upstream)."""
    vectors = [
        # (host, expected registrable domain) — null expectations too
        ("com", None),
        ("example.com", "example.com"),
        ("www.example.com", "example.com"),
        ("example", None),                     # unlisted TLD
        ("example.example", "example.example"),
        ("b.example.example", "example.example"),
        ("biz", None),
        ("domain.biz", "domain.biz"),
        ("jp", None),
        ("test.jp", "test.jp"),
        ("www.test.jp", "test.jp"),
        ("ac.jp", None),
        ("test.ac.jp", "test.ac.jp"),
        ("www.test.ac.jp", "test.ac.jp"),
        ("kyoto.jp", None),
        ("test.kyoto.jp", "test.kyoto.jp"),
        ("ide.kyoto.jp", None),
        ("b.ide.kyoto.jp", "b.ide.kyoto.jp"),
        ("a.b.ide.kyoto.jp", "b.ide.kyoto.jp"),
        ("c.kobe.jp", None),
        ("b.c.kobe.jp", "b.c.kobe.jp"),
        ("a.b.c.kobe.jp", "b.c.kobe.jp"),
        ("city.kobe.jp", "city.kobe.jp"),
        ("www.city.kobe.jp", "city.kobe.jp"),
        ("us", None),
        ("test.us", "test.us"),
        ("www.test.us", "test.us"),
        ("ak.us", None),
        ("test.ak.us", "test.ak.us"),
        ("www.test.ak.us", "test.ak.us"),
        ("k12.ak.us", None),
        ("test.k12.ak.us", "test.k12.ak.us"),
        ("www.test.k12.ak.us", "test.k12.ak.us"),
        ("cn", None),
        ("test.cn", "test.cn"),
        ("www.test.cn", "test.cn"),
        ("com.cn", None),
        ("test.com.cn", "test.com.cn"),
        ("www.test.com.cn", "test.com.cn"),
        ("mm", None),
        ("c.mm", None),
        ("b.c.mm", "b.c.mm"),
        ("a.b.c.mm", "b.c.mm"),
        ("ck", None),
        ("test.ck", None),
        ("b.test.ck", "b.test.ck"),
        ("a.b.test.ck", "b.test.ck"),
        ("www.ck", "www.ck"),
        ("www.www.ck", "www.ck"),
        # a host with exactly the wildcard BASE's labels is NOT
        # matched by the wildcard ('*' must consume one label): the
        # shorter rules prevail and kobe.jp is registrable under jp
        ("kobe.jp", "kobe.jp"),
        ("kawasaki.jp", "kawasaki.jp"),
        # ---- full-snapshot vectors (outside the old excerpt) ----
        # private-section 2-label suffix (CentralNic uk.com)
        ("uk.com", None),
        ("test.uk.com", "test.uk.com"),
        ("www.test.uk.com", "test.uk.com"),
        # IDN rules as published (Unicode form): 公司.cn is a listed
        # 2-label suffix; 中国 is a 1-label rule == default behavior
        ("食狮.com.cn", "食狮.com.cn"),
        ("食狮.公司.cn", "食狮.公司.cn"),
        (
            "www.食狮.公司.cn",
            "食狮.公司.cn",
        ),
        ("shishi.公司.cn", "shishi.公司.cn"),
        ("公司.cn", None),
        ("食狮.中国", "食狮.中国"),
        ("www.食狮.中国", "食狮.中国"),
        ("shishi.中国", "shishi.中国"),
        ("中国", None),
        # punycode twins of the same rules (hosts arrive xn--EDged)
        ("xn--85x722f.com.cn", "xn--85x722f.com.cn"),
        ("xn--85x722f.xn--55qx5d.cn", "xn--85x722f.xn--55qx5d.cn"),
        ("www.xn--85x722f.xn--55qx5d.cn", "xn--85x722f.xn--55qx5d.cn"),
        ("shishi.xn--55qx5d.cn", "shishi.xn--55qx5d.cn"),
        ("xn--55qx5d.cn", None),
        ("xn--85x722f.xn--fiqs8s", "xn--85x722f.xn--fiqs8s"),
        ("www.xn--85x722f.xn--fiqs8s", "xn--85x722f.xn--fiqs8s"),
        ("shishi.xn--fiqs8s", "shishi.xn--fiqs8s"),
        ("xn--fiqs8s", None),
    ]
    df = spark.createDataFrame([(h,) for h, _ in vectors], "host string")
    out = {
        r.host: r.registered_domain
        for r in W.with_registered_domain(df, "host").collect()
    }
    for host, expected in vectors:
        assert out[host] == expected, (host, out[host], expected)


def test_parse_psl_file_format():
    import pytest

    rules = W.parse_psl(
        "// comment\n\ncom\nco.uk\n*.ck  // trailing noise\n!www.ck\n"
        "*.kawasaki.jp\nCO.JP\n"
    )
    assert rules["plain"] == ("com", "co.uk", "co.jp")
    assert rules["wildcard"] == ("ck", "kawasaki.jp")
    assert rules["exception"] == ("www.ck",)
    with pytest.raises(ValueError, match="wildcard"):
        W.parse_psl("c*.x\n")
    with pytest.raises(ValueError, match="wildcard"):
        W.parse_psl("*.a.*.b\n")


def test_psl_punycode_twins_complete_under_uts46():
    """Every Unicode rule in the vendored snapshot must yield a
    punycode twin under the active encoder (UTS-46 via the idna
    package here), and NONE may be silently dropped — a PSL upgrade
    that introduces an unencodable/divergent rule must surface in
    PUNYCODE_DROPPED, not as a missing twin that un-groups those
    registrants (ADVICE r8)."""
    import pytest

    rules = W.default_psl_rules()
    assert W.PUNYCODE_DROPPED == set(), sorted(W.PUNYCODE_DROPPED)
    n_unicode = sum(
        1
        for vals in rules.values()
        for v in vals
        if any(ord(c) > 127 for c in v)
    )
    n_twins = sum(
        1 for vals in rules.values() for v in vals if "xn--" in v
    )
    assert n_unicode == n_twins == 466  # vendored-snapshot census
    # receipts in this repo are certified under UTS-46; on a
    # stdlib-only host the operator degrades gracefully (warns +
    # records the encoder), so the pin is a skip there, not a failure
    if W.PUNYCODE_ENCODER != "uts46":
        pytest.skip("idna package absent — IDNA2003 fallback active")


def test_punycode_dropped_replaced_per_build(monkeypatch):
    """PUNYCODE_DROPPED is a per-build SNAPSHOT, not an accumulator:
    a build whose rules include an unencodable entry publishes
    exactly that entry; a later rebuild from the clean vendored file
    REPLACES the set (empty again) instead of carrying stale drops
    that would misattribute one rule set's failures to another
    (ADVICE r9). The module value is a frozenset, so no code path
    can append to a published snapshot."""
    import pytest

    if W.PUNYCODE_ENCODER != "uts46":
        # the final empty-set assert is a UTS-46 property of the
        # vendored snapshot (same reason the twins-complete test
        # skips): IDNA2003 can fail rules the idna package encodes
        pytest.skip("idna package absent — IDNA2003 fallback active")
    bad = "あ" * 100 + ".bad"  # label >63 cps — IDNA encode fails
    real_parse = W.parse_psl

    def fake_parse(_text):
        return {"plain": (bad, "co.uk"), "wildcard": (), "exception": ()}

    monkeypatch.setattr(W, "parse_psl", fake_parse)
    monkeypatch.setattr(W, "_PSL_SNAPSHOT", None)
    W.default_psl_rules()
    assert W.PUNYCODE_DROPPED == {bad}
    assert isinstance(W.PUNYCODE_DROPPED, frozenset)

    monkeypatch.setattr(W, "parse_psl", real_parse)
    monkeypatch.setattr(W, "_PSL_SNAPSHOT", None)
    W.default_psl_rules()
    assert W.PUNYCODE_DROPPED == set()  # replaced, not unioned
    # monkeypatch restores _PSL_SNAPSHOT on exit; the final build
    # above also left the module cache/dropped pair consistent


def test_psl_join_is_broadcast_no_shuffle(spark):
    df = spark.createDataFrame([("www.a.co.uk",)], "host string")
    plan = (
        W.with_registered_domain(df, "host")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # one tiny broadcast join per (rule class, label count) pair that
    # has entries — DERIVED from the vendored snapshot (full PSL:
    # exc{3,2}, wild{4,3,2,1}, suf{5,4,3,2} = 10)
    rules = W.default_psl_rules()
    labs = lambda v: v.count(".") + 1  # noqa: E731
    n_classes = len(
        {labs(v) for v in rules["exception"]}
    ) + len(
        {labs(v) for v in rules["wildcard"]}
    ) + len({labs(v) for v in rules["plain"] if labs(v) >= 2})
    assert plan.count("BroadcastHashJoin") == n_classes
    assert n_classes >= 6  # excerpt floor; full snapshot gives 10
    assert "ShuffleExchange" not in plan and "SortMergeJoin" not in plan


def test_decode_numeric_charrefs(spark):
    rows = [
        ("&#64;user &#x41;+ &#999; &#x1f; &#9; x&#65;&#66;y",),
        ("plain text no refs",),
        ("\x01 marker scrubbed &#65;",),
    ]
    df = spark.createDataFrame(rows, "s string")
    out = [
        r.o
        for r in df.select(
            W.decode_numeric_charrefs(F.col("s")).alias("o")
        ).collect()
    ]
    # in-range decimal + hex decode; out-of-range and sub-32 preserved
    assert out[0] == "@user A+ &#999; &#x1f; &#9; xABy"
    assert out[1] == "plain text no refs"
    assert out[2] == "  marker scrubbed A"
    # '&' decodes to the NAMED form so html_to_text's later entity
    # passes can't re-decode text it produced
    amp = spark.createDataFrame(
        [("&#38;lt; and &#x26;gt; and &#38; alone",)], "s string"
    )
    got = amp.select(W.decode_numeric_charrefs(F.col("s")).alias("o")).first().o
    assert got == "&amp;lt; and &amp;gt; and &amp; alone"


def test_html_to_text_numeric_amp_single_pass(spark):
    # author-escaped markup: '&#38;lt;b&#38;gt;' must extract as the
    # literal '&lt;b&gt;', never as '<b>'
    html = "<p>&#38;lt;b&#38;gt; and &#x26;#65;</p>"
    df = spark.createDataFrame([(html,)], "h string")
    got = df.select(W.html_to_text(F.col("h")).alias("t")).first().t
    assert got == "&lt;b&gt; and &#65;"


def test_html_to_text_decodes_numeric_refs_and_double_escape(spark):
    html = "<p>&#72;i &#x21; &amp;#65; &amp;lt;</p>"
    df = spark.createDataFrame([(html,)], "h string")
    got = df.select(W.html_to_text(F.col("h")).alias("t")).first().t
    # &amp;#65; is a double-escaped literal: single-pass decode yields &#65;
    assert got == "Hi ! &#65; &lt;"


def test_robots_verdict_longest_match_and_ties(spark):
    rules = spark.createDataFrame(
        [
            ("a.com", False, "/docs/"),
            ("a.com", True, "/docs/pub"),
            ("a.com", False, "/docs/pub/secret"),
            ("a.com", True, "/"),
            ("b.com", False, "/"),
            # exact length tie on /x: Allow must win
            ("b.com", True, "/x"),
            ("b.com", False, "/x"),
        ],
        "host string, allow boolean, prefix string",
    )
    pages = spark.createDataFrame(
        [
            ("a.com", "/docs/internal"),     # /docs/ disallow
            ("a.com", "/docs/pub/page"),     # longer allow wins
            ("a.com", "/docs/pub/secret/x"), # longest disallow wins
            ("a.com", "/other"),             # '/' allow
            ("b.com", "/anything"),          # '/' disallow
            ("b.com", "/x/page"),            # tie at len 2 -> Allow wins
            ("nr.com", "/whatever"),         # no rules -> allowed
        ],
        "host string, path string",
    )
    out = {
        (r.host, r.path): r.crawl_allowed
        for r in W.with_robots_verdict(pages, rules, "host", "path").collect()
    }
    assert out == {
        ("a.com", "/docs/internal"): False,
        ("a.com", "/docs/pub/page"): True,
        ("a.com", "/docs/pub/secret/x"): False,
        ("a.com", "/other"): True,
        ("b.com", "/anything"): False,
        ("b.com", "/x/page"): True,
        ("nr.com", "/whatever"): True,
    }
    plan = (
        W.with_robots_verdict(pages, rules, "host", "path")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_robots_verdict_wildcard_and_anchor(spark):
    """RFC 9309 §2.2.3 pattern grammar: '*' (any sequence, '/'
    included), trailing '$' (end anchor), specificity = literal
    octets, Allow wins specificity ties — and the classic prefix-only
    cases keep their exact pre-wildcard behavior."""
    rules = spark.createDataFrame(
        [
            # the RFC's own motivating example
            ("a.com", False, "/*.pdf$"),
            ("a.com", True, "/"),
            # '*' mid-pattern crossing '/' segments
            ("a.com", False, "/private*data"),
            # '$' limits an allow to the exact path
            ("b.com", False, "/docs/"),
            ("b.com", True, "/docs/readme$"),
            # specificity tie between a wildcard disallow (lit 8) and
            # an exact allow (lit 8): Allow wins
            ("c.com", False, "/a/b/c/*d$"),
            ("c.com", True, "/a/b/c/d"),
            # literal '$' mid-pattern is NOT an anchor
            ("d.com", False, "/x$y"),
        ],
        "host string, allow boolean, prefix string",
    )
    pages = spark.createDataFrame(
        [
            ("a.com", "/report.pdf"),          # *.pdf$ disallow
            ("a.com", "/report.pdf/view"),     # $ anchor -> not matched -> '/' allow
            ("a.com", "/files/q1.pdf"),        # '*' crosses '/'
            ("a.com", "/privateXdata"),        # mid-pattern '*', zero chars... X counts
            ("a.com", "/private/deep/data"),   # mid-pattern '*' across segments
            ("a.com", "/pdf.report"),          # no match beyond '/'
            ("b.com", "/docs/readme"),         # anchored allow wins (lit 12 > 6)
            ("b.com", "/docs/readme2"),        # anchor fails -> /docs/ disallow
            ("c.com", "/a/b/c/d"),             # tie at lit 8 -> Allow
            ("c.com", "/a/b/c/xd"),            # only wildcard matches -> disallow
            ("d.com", "/x$y123"),              # literal $ matched as prefix
            ("d.com", "/xZy"),                 # no rule matches -> allowed
        ],
        "host string, path string",
    )
    out = {
        (r.host, r.path): r.crawl_allowed
        for r in W.with_robots_verdict(pages, rules, "host", "path").collect()
    }
    assert out == {
        ("a.com", "/report.pdf"): False,
        ("a.com", "/report.pdf/view"): True,
        ("a.com", "/files/q1.pdf"): False,
        ("a.com", "/privateXdata"): False,
        ("a.com", "/private/deep/data"): False,
        ("a.com", "/pdf.report"): True,
        ("b.com", "/docs/readme"): True,
        ("b.com", "/docs/readme2"): False,
        ("c.com", "/a/b/c/d"): True,
        ("c.com", "/a/b/c/xd"): False,
        ("d.com", "/x$y123"): False,
        ("d.com", "/xZy"): True,
    }


def test_robots_pattern_regex_escapes_metachars(spark):
    """Regex metacharacters inside robots patterns match LITERALLY —
    '.' must not act as a wildcard, '+'/'('/')' must not break the
    compiled pattern, and '/a$$' means literal '/a$' anchored."""
    df = spark.createDataFrame(
        [
            ("/a.b",), ("/a+b(c)[d]{e}|f?g\\h",), ("/a$$",), ("/*$",),
        ],
        "p string",
    )
    rows = df.select(
        "p",
        W.robots_pattern_regex(F.col("p")).alias("rx"),
        W.robots_pattern_specificity(F.col("p")).alias("lit"),
    ).collect()
    got = {r.p: (r.rx, r.lit) for r in rows}
    assert got["/a.b"] == ("^/a\\.b", 4)
    assert got["/a$$"] == ("^/a\\$$", 3)
    assert got["/*$"] == ("^/.*$", 1)
    rx = got["/a+b(c)[d]{e}|f?g\\h"][0]
    # compiled pattern matches its own literal and not a lookalike
    probe = spark.createDataFrame(
        [("/a+b(c)[d]{e}|f?g\\h",), ("/aXb(c)[d]{e}|f?g\\h",)], "path string"
    )
    m = probe.select("path", F.col("path").rlike(rx).alias("m")).collect()
    assert {r.path: r.m for r in m} == {
        "/a+b(c)[d]{e}|f?g\\h": True,
        "/aXb(c)[d]{e}|f?g\\h": False,
    }


def test_duplicated_spans_exact_intervals(spark):
    base8 = "a1 a2 a3 a4 a5 a6 a7 a8"
    df = spark.createDataFrame(
        [
            # cross-doc: docs 1 and 2 share their first 8 tokens
            (1, base8 + " tail1 unique9 here1"),
            (2, base8 + " other2 words2 go2"),
            # within-doc: the same 8-gram at positions 1 and 10
            (3, base8 + " gap " + base8),
            # 9 shared tokens with doc 5 -> two overlapping windows merge
            (4, base8 + " a9 xx4 yy4"),
            (5, base8 + " a9 zz5 qq5"),
            # no duplication at all
            (6, "totally unique words nothing shared anywhere at all ok"),
        ],
        "doc_id long, text string",
    )
    spans = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in T.duplicated_spans(df, "doc_id", "text", k=8).collect()
    }
    assert spans == {
        (1, 1, 8, 8),
        (2, 1, 8, 8),
        (3, 1, 8, 8),
        (3, 10, 17, 8),
        (4, 1, 9, 9),  # windows at pos 1 and 2 merged
        (5, 1, 9, 9),
    }


def test_duplicated_spans_sub_k_bound(spark):
    """The documented k-gram detection bound — and its CLOSURE: a
    duplicated run SHORTER than k tokens produces no k-window and is
    invisible at that k; the remedies are the k knob (same
    algorithm) or duplicated_spans_exact (the character-threshold
    pass), which DETECTS the planted tail whenever it crosses
    min_bytes."""
    tail5 = " all rights reserved worldwide 2024"
    df = spark.createDataFrame(
        [
            (1, "first document has its own body text entirely" + tail5),
            (2, "second body goes differently with other words" + tail5),
        ],
        "doc_id long, text string",
    )
    # k=8: the 5-token shared tail can't fill an 8-window; windows
    # reaching back into the (unique) bodies occur once -> NO spans
    assert T.duplicated_spans(df, "doc_id", "text", k=8).count() == 0
    # k=4: both 4-windows inside the tail duplicate across docs and
    # merge to the 5-token terminal span (1-based; doc 1's body is 8
    # tokens, doc 2's is 7, so the tails start at 9 and 8)
    spans = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in T.duplicated_spans(df, "doc_id", "text", k=4).collect()
    }
    assert spans == {(1, 9, 13, 5), (2, 8, 12, 5)}
    # the EXACT pass at min_bytes=30 detects the same planted tails
    # with no token-count floor: position at the tail start
    # fingerprints "all rights reserved worldwide " (30 chars — the
    # window ends ON the joining space, so "2024"'s first char at 31
    # is outside: covers 4 tokens), the next position's 30-char
    # window "rights reserved worldwide 2024" reaches the end
    # (covers 4 more), the two islands overlap and merge to the full
    # 5-token tail; position 3 of the tail has only 23 chars of
    # suffix left and cannot start
    exact = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in T.duplicated_spans_exact(
            df, "doc_id", "text", min_bytes=30
        ).collect()
    }
    assert exact == {(1, 9, 13, 5), (2, 8, 12, 5)}
    # ...and at Lee et al.'s 50-byte threshold the 34-char tail is
    # correctly BELOW the line: no suffix inside it has 50 chars, and
    # windows reaching back into the unique bodies occur once
    assert (
        T.duplicated_spans_exact(df, "doc_id", "text", min_bytes=50).count()
        == 0
    )


def test_exact_substr_spans_dispatcher(spark):
    """exact_substr_spans is the single entry point: k_tokens routes
    to the k-gram pass, min_bytes to the character-threshold pass,
    and passing both or neither is an error (the two floors are
    different SEMANTICS, not a tuning range)."""
    import pytest

    tail5 = " all rights reserved worldwide 2024"
    df = spark.createDataFrame(
        [
            (1, "first document has its own body text entirely" + tail5),
            (2, "second body goes differently with other words" + tail5),
        ],
        "doc_id long, text string",
    )

    def spans(d):
        return {
            (r.doc_id, r.span_start, r.span_end, r.span_tokens)
            for r in d.collect()
        }

    assert spans(
        T.exact_substr_spans(df, "doc_id", "text", k_tokens=4)
    ) == spans(T.duplicated_spans(df, "doc_id", "text", k=4))
    assert spans(
        T.exact_substr_spans(df, "doc_id", "text", min_bytes=30)
    ) == spans(T.duplicated_spans_exact(df, "doc_id", "text", min_bytes=30))
    with pytest.raises(ValueError, match="exactly one"):
        T.exact_substr_spans(df, "doc_id", "text")
    with pytest.raises(ValueError, match="exactly one"):
        T.exact_substr_spans(df, "doc_id", "text", k_tokens=4, min_bytes=30)


def test_duplicated_spans_probe_counts_index_and_batch(spark):
    """Incremental semantics, pinned per source of duplication: a
    batch window duplicated ONLY against the index is a span (pure
    history hit), batch-internal repeats still count (two batch
    copies, zero index hits), a batch+index mix counts additively,
    and a batch-unique window is clean. Agreement: probing a batch
    against its own complement's index equals running the batch pass
    on the union, restricted to batch docs."""
    base8 = "a1 a2 a3 a4 a5 a6 a7 a8"
    hist = spark.createDataFrame(
        [(100, base8 + " hx hy"), (101, "old words entirely different here now")],
        "doc_id long, text string",
    )
    idx = T.gram_count_index(hist, "doc_id", "text", k=8)
    batch = spark.createDataFrame(
        [
            # pure index hit: base8 appears once here, once in doc 100
            (1, base8 + " b1 b2"),
            # batch-internal: docs 2 and 3 share their own 8-gram
            (2, "c1 c2 c3 c4 c5 c6 c7 c8 tail2"),
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 tail3"),
            # clean
            (4, "nothing here matches anything else at all truly"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in T.duplicated_spans_probe(
            batch, idx, "doc_id", "text", k=8
        ).collect()
    }
    assert got == {(1, 1, 8, 8), (2, 1, 8, 8), (3, 1, 8, 8)}
    # agreement with the batch pass over the union
    union = hist.unionByName(batch)
    full = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in T.duplicated_spans(union, "doc_id", "text", k=8).collect()
        if r.doc_id < 100
    }
    assert got == full


def test_duplicated_spans_probe_never_shuffles_index(spark):
    """The probe's scale contract, pinned in the physical plan: both
    index joins are BroadcastHashJoins building batch-derived sides
    (the explicit broadcast hints guarantee it at any size), and no
    SortMergeJoin appears — the shape under which the corpus index
    is scanned but never shuffled. A review found the previous LEFT
    join against the raw index planned BuildRight on the INDEX side
    (Spark cannot build the left side of a LeftOuter join), which
    would shuffle the whole corpus at scale."""
    hist = spark.createDataFrame(
        [(100, "a1 a2 a3 a4 a5 a6 a7 a8 hx")], "doc_id long, text string"
    )
    batch = spark.createDataFrame(
        [(1, "a1 a2 a3 a4 a5 a6 a7 a8 b1")], "doc_id long, text string"
    )
    idx = T.gram_count_index(hist, "doc_id", "text", k=8)
    out = T.duplicated_spans_probe(batch, idx, "doc_id", "text", k=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") == 2
    # and the result still detects the pure index hit
    assert {(r.doc_id, r.span_start, r.span_end) for r in out.collect()} == {
        (1, 1, 8)
    }


def test_gram_count_index_incremental_maintenance(spark):
    """The index MAINTENANCE contract the gram_count_index docstring
    promises ('maintain by unioning batch counts in — counts are
    additive'), exercised end to end: index(A) updated with batch B's
    own counts (union + re-sum) must equal a from-scratch index over
    A ∪ B row-for-row, and a NEW batch C probed against the
    maintained index must produce exactly the spans of a from-scratch
    probe — including a span C shares ONLY with the B increment (the
    case a stale index would miss) and one split across A and B
    (count 1 in each half, duplicated only in the merged view)."""
    base8 = "a1 a2 a3 a4 a5 a6 a7 a8"
    newb8 = "n1 n2 n3 n4 n5 n6 n7 n8"
    hist_a = spark.createDataFrame(
        [(100, base8 + " hx"), (101, "plain old history words here yes")],
        "doc_id long, text string",
    )
    batch_b = spark.createDataFrame(
        [(200, newb8 + " bx"), (201, base8 + " by")],
        "doc_id long, text string",
    )
    idx_a = T.gram_count_index(hist_a, "doc_id", "text", k=8)
    # maintenance: union the increment's counts in, re-sum per hash
    idx_maintained = (
        idx_a.unionByName(T.gram_count_index(batch_b, "doc_id", "text", k=8))
        .groupBy("_whash")
        .agg(F.sum("idx_cnt").alias("idx_cnt"))
    )
    idx_scratch = T.gram_count_index(
        hist_a.unionByName(batch_b), "doc_id", "text", k=8
    )
    as_set = lambda df: {  # noqa: E731
        (r._whash, r.idx_cnt) for r in df.collect()
    }
    assert as_set(idx_maintained) == as_set(idx_scratch)

    # probe a THIRD batch: one window only in B's increment, one only
    # in A, one unique — the stale-index miss case is the B hit
    batch_c = spark.createDataFrame(
        [
            (1, newb8 + " c1"),   # hits only the B increment
            (2, base8 + " c2"),   # hits A (and B's 201)
            (3, "nothing shared with any other document here at all"),
        ],
        "doc_id long, text string",
    )
    spans = lambda idx: {  # noqa: E731
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in T.duplicated_spans_probe(
            batch_c, idx, "doc_id", "text", k=8
        ).collect()
    }
    got = spans(idx_maintained)
    assert got == spans(idx_scratch)
    assert got == {(1, 1, 8, 8), (2, 1, 8, 8)}
    # and the stale index genuinely misses the B-only span — the
    # maintenance step is load-bearing, not a formality
    assert spans(idx_a) == {(2, 1, 8, 8)}


def test_span_attribution_first_wins_and_linear_pairs(spark):
    """Attribution semantics: every duplicated window attributes to
    its corpus-first (min id) carrier — a 3-doc boilerplate cohort
    yields exactly the 2 pairs (1,2) and (1,3), never the all-pairs
    triangle; a 9-token overlap shares 2 windows; within-doc doubling
    attributes to itself and is excluded; unique docs emit nothing."""
    base8 = "a1 a2 a3 a4 a5 a6 a7 a8"
    nine = "b1 b2 b3 b4 b5 b6 b7 b8 b9"
    df = spark.createDataFrame(
        [
            (1, base8 + " x1"),
            (2, base8 + " x2"),
            (3, base8 + " x3"),
            (4, "c1 c2 c3 c4 c5 c6 c7 c8 gap c1 c2 c3 c4 c5 c6 c7 c8"),
            (5, "totally unique words nothing shared anywhere at all ok"),
            (6, nine + " u6"),
            (7, nine + " u7"),
        ],
        "doc_id long, text string",
    )
    got = {
        (r.src_doc, r.dst_doc, r.n_windows)
        for r in T.span_attribution(df, "doc_id", "text", k=8).collect()
    }
    assert got == {(1, 2, 1), (1, 3, 1), (6, 7, 2)}


def test_duplicated_spans_exact_long_token_tail(spark):
    """The case the k-gram pass is structurally blind to: a 5-TOKEN
    duplicated tail of LONG tokens (65 joined chars — well past the
    50-byte line) is invisible at k=8 but must be reported by the
    exact pass. Coverage is variable-width: the 50-char window from
    the tail start only reaches into the third long token, so the
    span is 3 tokens, not 5 — and the second tail position has only
    44 suffix chars left, so it cannot start."""
    tail = (
        " internationalization telecommunications"
        " responsibilities the 2024"
    )
    df = spark.createDataFrame(
        [
            (1, "first document has its own body text entirely" + tail),
            (2, "second body goes differently with other words" + tail),
        ],
        "doc_id long, text string",
    )
    assert T.duplicated_spans(df, "doc_id", "text", k=8).count() == 0
    exact = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in T.duplicated_spans_exact(
            df, "doc_id", "text", min_bytes=50
        ).collect()
    }
    # doc 1's body is 8 tokens (tail starts at 9), doc 2's is 7:
    # window = first 50 chars of "internationalization(20)
    # telecommunications(18) responsibilities(16)..." — spaces at
    # chars 21 and 40, so 3 tokens covered
    assert exact == {(1, 9, 11, 3), (2, 8, 10, 3)}


def test_duplicated_spans_exact_space_boundary(spark):
    """The token-coverage boundary convention, pinned at its exact
    edge: a min_bytes window whose LAST character is the joining
    space must NOT claim the following token (it contributed no
    characters to the fingerprint). Docs share exactly their first
    10 chars — a 9-char token plus the space — then diverge; the
    span is the single shared token, never (1,2)."""
    df = spark.createDataFrame(
        [
            (1, "abcdefghi xq aa bb"),
            (2, "abcdefghi xr cc dd"),
        ],
        "doc_id long, text string",
    )
    exact = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in T.duplicated_spans_exact(
            df, "doc_id", "text", min_bytes=10
        ).collect()
    }
    assert exact == {(1, 1, 1, 1), (2, 1, 1, 1)}


def test_duplicated_spans_exact_short_suffix_covered_not_start(spark):
    """A position with fewer than min_bytes suffix chars remaining is
    excluded as a span START but still COVERED by a qualifying span
    that starts earlier: the shared 11-char tail "qqq www eee" is
    detected from its first token (suffix 11 >= 10), and the window
    reaches the final token even though positions 4 and 5 (suffixes
    of 7 and 3 chars) cannot start."""
    df = spark.createDataFrame(
        [
            (1, "alpha unique1 qqq www eee"),
            (2, "beta other2 qqq www eee"),
        ],
        "doc_id long, text string",
    )
    exact = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens)
        for r in T.duplicated_spans_exact(
            df, "doc_id", "text", min_bytes=10
        ).collect()
    }
    assert exact == {(1, 3, 5, 3), (2, 3, 5, 3)}


def test_duplicated_spans_exact_within_doc_doubled(spark):
    """Within-document self-duplication (the doubled-text regime):
    every suffix of the first copy long enough to fingerprint
    reappears in the second copy, so the merged span covers the
    document from token 1 through the last position of the second
    copy that can still start a 50-char window plus its coverage."""
    body = (
        "the quick brown fox jumps over the lazy dog while seven "
        "wizards brew strong black coffee at midnight"
    )  # 17 tokens, 104 joined chars
    df = spark.createDataFrame(
        [(1, body + " " + body), (2, "completely unrelated filler words")],
        "doc_id long, text string",
    )
    rows = T.duplicated_spans_exact(
        df, "doc_id", "text", min_bytes=50
    ).collect()
    assert [r.doc_id for r in rows] == [1]
    (span,) = rows
    # position p (copy 1) and p+17 (copy 2) share suffixes >= 50
    # chars whenever copy 2's remainder still has 50 chars, so the
    # span starts at token 1; coverage runs past the copy boundary
    assert span.span_start == 1
    assert span.span_end > 17  # crosses into the second copy
    assert span.span_tokens == span.span_end - span.span_start + 1


def test_html_links_title_and_link_graph(spark):
    html = (
        '<html><head><title>  My\n  Page </title>'
        '<link rel="canonical" href="https://www.a.com/p/1"></head>'
        '<body><a href="https://b.com/x">b</a>'
        '<a href="/relative">r</a>'
        "<a href='https://single-quoted.com/x'>sq</a>"
        '<a href="https://b.com/y">b2</a>'
        '<a href="HTTPS://C.com:443/z">c</a></body></html>'
    )
    df = spark.createDataFrame([(html,)], "h string")
    row = df.select(
        W.html_title(F.col("h")).alias("t"),
        W.html_links(F.col("h")).alias("l"),
    ).first()
    assert row.t == "My Page"
    # double-quoted hrefs only; relative kept verbatim
    assert list(row.l) == [
        "https://www.a.com/p/1",
        "https://b.com/x",
        "/relative",
        "https://b.com/y",
        "HTTPS://C.com:443/z",
    ]
    g = W.link_graph(df.withColumn("host", F.lit("www.a.com")), "h", F.col("host"))
    got = {(r.src_host, r.dst_host): r.n_links for r in g.collect()}
    # canonical self-edge dropped, relative dropped, b.com counted twice,
    # scheme-case + default-port canonicalized for c.com
    assert got == {("www.a.com", "b.com"): 2, ("www.a.com", "c.com"): 1}
    # no title -> NULL
    assert (
        spark.createDataFrame([("<p>x</p>",)], "h string")
        .select(W.html_title(F.col("h")).alias("t"))
        .first()
        .t
        is None
    )


def test_html_anchors_nested_markup_and_case(spark):
    html = (
        '<body><a href="https://a.com/x">plain</a>'
        '<A HREF="https://b.com/y" class="z">has <b>bold</b>\n text</A>'
        '<a class="q" href="/rel">rel link</a>'
        '<a href="https://c.com/no-close">dangling'
        "</body>"
    )
    df = spark.createDataFrame([(html,)], "h string")
    rows = [
        (r.href, r.text)
        for r in df.select(
            F.explode(W.html_anchors(F.col("h"))).alias("a")
        ).select("a.href", "a.text").collect()
    ]
    assert rows == [
        ("https://a.com/x", "plain"),
        ("https://b.com/y", "has bold text"),
        ("/rel", "rel link"),
    ]  # the unclosed anchor matches nothing — never a mis-paired span


def test_html_anchors_implicit_close_and_data_href(spark):
    html = (
        # unclosed anchor followed by a valid one: implicit-close
        # yields BOTH rows (real-parser semantics), no swallowing
        '<a href="https://u1.com/a">one <a href="https://u2.com/b">two</a>'
        # data-href must not shadow the real href, nor create a link
        ' <a data-href="https://evil.com" href="https://real.com/c">t</a>'
        ' <div data-href="https://tracker.ads/x">not a link</div>'
    )
    df = spark.createDataFrame([(html,)], "h string")
    anchors = [
        (r.href, r.text)
        for r in df.select(
            F.explode(W.html_anchors(F.col("h"))).alias("a")
        ).select("a.href", "a.text").collect()
    ]
    assert anchors == [
        ("https://u1.com/a", "one"),
        ("https://u2.com/b", "two"),
        ("https://real.com/c", "t"),
    ]
    links = df.select(W.html_links(F.col("h")).alias("l")).first().l
    assert list(links) == [
        "https://u1.com/a",
        "https://u2.com/b",
        "https://real.com/c",
    ]  # data-href / div attributes contribute nothing


def test_parse_robots_rules_grouping_semantics(spark):
    body = (
        "User-agent: googlebot\n"
        "Disallow: /g/\n"
        "\n"
        "User-agent: bingbot\n"
        "User-agent: *\n"          # combined group header: '*' member
        "Allow: /ok/\n"
        "Disallow: /no/\n"
        "User-agent: yandex\n"     # rules seen -> NEW group (not '*')
        "Disallow: /y/\n"
        "# comment line\n"
        "User-agent: *\n"
        "Disallow:\n"              # empty value: no restriction
        "Disallow: /z/\r\n"        # CRLF tolerated
        "Crawl-delay: 10\n"        # unknown directive ignored
    )
    df = spark.createDataFrame([("h.com", body)], "host string, txt string")
    got = [
        (r.allow, r.prefix)
        for r in W.parse_robots_rules(df, "host", "txt").collect()
    ]
    assert got == [(True, "/ok/"), (False, "/no/"), (False, "/z/")]
    # case-insensitive agent token, specific agent selection
    got_g = [
        (r.allow, r.prefix)
        for r in W.parse_robots_rules(df, "host", "txt", user_agent="GoogleBot").collect()
    ]
    assert got_g == [(False, "/g/")]
    # end-to-end: raw body -> rules -> verdict
    pages = spark.createDataFrame(
        [("h.com", "/no/x"), ("h.com", "/ok/y"), ("h.com", "/other")],
        "host string, path string",
    )
    rules = W.parse_robots_rules(df, "host", "txt")
    verdicts = {
        r.path: r.crawl_allowed
        for r in W.with_robots_verdict(pages, rules, "host", "path").collect()
    }
    assert verdicts == {"/no/x": False, "/ok/y": True, "/other": True}


def test_parse_robots_rules_most_specific_agent_group(spark):
    """RFC 9309 §2.2.1 group selection: an agent token applies when
    it is a case-insensitive PREFIX of the crawler's product token,
    the longest match across the file wins, same-length groups
    combine, and '*' applies only when nothing named matches."""
    body = (
        "User-agent: *\n"
        "Disallow: /all/\n"
        "User-agent: googlebot\n"
        "Disallow: /g/\n"
        "User-agent: googlebot-news\n"
        "Disallow: /gn/\n"
        "User-agent: GOOGLEBOT-NEWS\n"  # same length: groups combine
        "Allow: /gn/public\n"
    )
    df = spark.createDataFrame([("h.com", body)], "host string, txt string")

    def rules(ua):
        return sorted(
            (r.allow, r.prefix)
            for r in W.parse_robots_rules(df, "host", "txt", user_agent=ua).collect()
        )

    # exact product token: its own group only
    assert rules("googlebot-news") == [(False, "/gn/"), (True, "/gn/public")]
    # longer product token: 'googlebot-news' (len 14) beats 'googlebot'
    assert rules("googlebot-newswire") == [
        (False, "/gn/"), (True, "/gn/public"),
    ]
    # 'googlebot-images': only 'googlebot' prefixes it
    assert rules("googlebot-images") == [(False, "/g/")]
    # unknown crawler: the '*' group
    assert rules("duckduckbot") == [(False, "/all/")]
    # a file with ONLY a '*' group applies to named crawlers too
    only_star = spark.createDataFrame(
        [("s.com", "User-agent: *\nDisallow: /x/\n")],
        "host string, txt string",
    )
    got = [
        (r.allow, r.prefix)
        for r in W.parse_robots_rules(
            only_star, "host", "txt", user_agent="googlebot"
        ).collect()
    ]
    assert got == [(False, "/x/")]


def test_parse_robots_rules_rfc_edges(spark):
    """Two RFC 9309 edges (round-7 advice): (1) a matching specific
    group with NO Allow/Disallow lines is still the SELECTED group —
    it means allow-all and the '*' group is ignored, not fallen back
    to; (2) a stray directive (Crawl-delay, Sitemap) between two
    User-agent lines ends the header run, so adjacent groups never
    merge and one group's rules never inherit another's specificity."""
    # (1) empty specific group wins over '*'
    body1 = (
        "User-agent: *\nDisallow: /all/\n\n"
        "User-agent: mybot\n# welcome, mybot: no restrictions\n"
    )
    df1 = spark.createDataFrame([("h.com", body1)], "host string, txt string")
    assert (
        W.parse_robots_rules(df1, "host", "txt", user_agent="mybot").count()
        == 0
    )
    # ...while an unknown crawler still gets the '*' rules
    got = [
        (r.allow, r.prefix)
        for r in W.parse_robots_rules(
            df1, "host", "txt", user_agent="otherbot"
        ).collect()
    ]
    assert got == [(False, "/all/")]
    # (2) stray directive between UA lines: groups must NOT merge
    body2 = (
        "User-agent: mybot\n"
        "Crawl-delay: 2\n"          # ends the header run
        "User-agent: googlebot\n"   # NEW group, not merged with mybot
        "Disallow: /g-only/\n"
    )
    df2 = spark.createDataFrame([("h.com", body2)], "host string, txt string")
    # mybot's selected group has no rules -> allow-all, /g-only/ absent
    assert (
        W.parse_robots_rules(df2, "host", "txt", user_agent="mybot").count()
        == 0
    )
    # googlebot still gets its own rule
    got_g = [
        (r.allow, r.prefix)
        for r in W.parse_robots_rules(
            df2, "host", "txt", user_agent="googlebot"
        ).collect()
    ]
    assert got_g == [(False, "/g-only/")]


def test_parse_robots_rules_empty_ua_header_ignored(spark):
    """A malformed empty 'User-agent:' header must be treated as NO
    match (round-8 advice): '' is a prefix of every crawler name, so
    without the guard it would match like '*' and hand its rules to
    everyone. RFC 9309 requires a product token; an empty one is
    ignored, and the '*' group still applies."""
    body = (
        "User-agent:\nDisallow: /empty-ua/\n\n"
        "User-agent: *\nDisallow: /star/\n"
    )
    df = spark.createDataFrame([("h.com", body)], "host string, txt string")
    got = [
        (r.allow, r.prefix)
        for r in W.parse_robots_rules(
            df, "host", "txt", user_agent="anybot"
        ).collect()
    ]
    assert got == [(False, "/star/")]
    # crawl-delay side: the delay under the empty header is ignored
    body2 = "User-agent:\nCrawl-delay: 9\n\nUser-agent: *\nCrawl-delay: 2\n"
    df2 = spark.createDataFrame([("h.com", body2)], "host string, txt string")
    out = W.robots_crawl_delay(df2, "host", "txt", user_agent="anybot")
    assert [r.crawl_delay for r in out.collect()] == [2.0]


def test_robots_crawl_delay_group_selection_edges(spark):
    """Crawl-delay shares the header-selection semantics: the most
    specific matching group's delay wins; if that group has NO usable
    delay the host is omitted (no '*' fallback); '*' applies only
    when nothing named matches; stray directives don't merge groups."""
    b = (
        "User-agent: googlebot\nCrawl-delay: 1\n\n"
        "User-agent: *\nCrawl-delay: 9\n\n"
    )
    rows = [
        ("star-only.com", b),                                # '*' -> 9
        ("specific.com", b + "User-agent: mybot\nCrawl-delay: 3\n"),
        ("no-delay.com", b + "User-agent: mybot\nDisallow: /m/\n"),
        (
            "stray.com",
            b
            + "User-agent: mybot\nSitemap: https://x/s.xml\n"
            + "User-agent: googlebot\nCrawl-delay: 4\n",
        ),
    ]
    df = spark.createDataFrame(rows, "host string, text string")
    got = {
        r.host: r.crawl_delay
        for r in W.robots_crawl_delay(
            df, "host", "text", user_agent="mybot"
        ).collect()
    }
    # no-delay.com: selected mybot group lacks the knob -> omitted.
    # stray.com: googlebot's 4 must not inherit mybot's specificity.
    assert got == {"star-only.com": 9.0, "specific.com": 3.0}


def test_gpt2_bytes_to_unicode_published_mapping():
    """The GPT-2 byte alphabet is spec-pinned: a 256-entry bijection,
    identity on the printable ranges, and the canonical remaps
    (space->Ġ U+0120, newline->Ċ U+010A, tab->ĉ U+0109)."""
    b2u = T.gpt2_bytes_to_unicode()
    assert len(b2u) == 256 and len(set(b2u.values())) == 256
    for b in list(range(33, 127)) + list(range(161, 173)) + list(range(174, 256)):
        assert b2u[b] == chr(b)
    assert b2u[32] == "Ġ" and b2u[10] == "Ċ" and b2u[9] == "ĉ"
    assert b2u[0] == chr(256) and b2u[173] == chr(256 + 67)


def test_parse_merges_format():
    import pytest

    m = T.parse_merges("#version: 0.2\nh e\nĠ t\nĠt he\n\n")
    assert m == [("h", "e"), ("Ġ", "t"), ("Ġt", "he")]
    with pytest.raises(ValueError, match="malformed"):
        T.parse_merges("h e x\n")
    with pytest.raises(ValueError, match="malformed"):
        T.parse_merges("justone\n")


def test_gpt2_pretokenize_scanner_matches_java_regex(spark):
    """The pure-Python reference scanner and Spark's Java regex run
    of the published GPT-2 pattern must agree token-for-token on the
    tricky cases: contractions, the \\s+(?!\\S) backtrack, tabs,
    leading/trailing runs, space-before-contraction re-splitting."""
    cases = [
        "key agg   table it's 1984 ready, set.  go ",
        "a\tb  \tc",
        "  lead",
        "tail   ",
        "x'll y're",
        "x  's weird",
        "multi\n\nlines here",
        "a  ,b",
        "",
        "don't stop-me (now) #1!",
    ]
    df = spark.createDataFrame([(s,) for s in cases], "s string")
    got = {
        r.s: r.t
        for r in df.select(
            "s", T.gpt2_pretokenize("s").alias("t")
        ).collect()
    }
    for s in cases:
        assert got[s] == T.gpt2_pretokenize_reference(s), repr(s)
        assert "".join(got[s]) == s  # tokens tile the input exactly


def test_gpt2_encode_column_path_matches_reference(spark):
    """On ASCII text the zero-shuffle Column chain encodes exactly as
    the reference scanner + greedy loop."""
    merges = T.parse_merges(
        "#version: 0.2\nĠ t\nh e\nĠt he\nt he\na b\nl e\nt ab\ntab le\n"
    )
    rows = [
        (1, "the table"),
        (2, "it's   tabled"),
        (3, ""),
        (4, "a\tb  c "),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    col = {
        r.doc_id: (r.enc, r.n)
        for r in df.select(
            "doc_id",
            T.gpt2_encoded("text", merges).alias("enc"),
            T.gpt2_token_count("text", merges).alias("n"),
        ).collect()
    }
    # 'the': (h,e) then (t,he) -> one symbol; ' table': (Ġ,t), (a,b),
    # (l,e) -> Ġt ab le ((Ġt,ab)/(ab,le) are not in the table)
    assert col[1] == ("the Ġt ab le", 4)
    assert col[3] == ("", 0)
    # reference ground truth agrees too
    for i, s in rows:
        assert col[i][0] == " ".join(T.gpt2_apply_reference(s, merges))


def test_gpt2_vocab_published_ids():
    """gpt2_vocab reproduces GPT-2's published vocab.json ids: the
    base alphabet fills 0-255 in bytes_to_unicode order ('!'=0,
    '~'=93, '¡'=94, 'ÿ'=187, then remapped bytes — 'Ā' (0x00)=188,
    'ĉ' (tab)=197, 'Ċ' (newline)=198, 'Ġ' (space)=220, byte
    0xAD last=255), and merge k mints id 256+k — with the real
    merges.txt head that makes 'Ġt'=256, 'Ġa'=257, 'he'=258,
    'in'=259, 're'=260, 'on'=261, 'Ġthe'=262, all of which match
    the published GPT-2 encoder's ids for those strings."""
    import pytest

    v0 = T.gpt2_vocab([])
    assert len(v0) == 256 and sorted(v0.values()) == list(range(256))
    assert v0["!"] == 0 and v0["~"] == 93
    assert v0["¡"] == 94 and v0["ÿ"] == 187
    assert v0[chr(0x100)] == 188  # byte 0x00 -> 'Ā'
    assert v0["ĉ"] == 197 and v0["Ċ"] == 198 and v0["Ġ"] == 220
    assert v0["A"] == 32 and v0["a"] == 64 and v0["0"] == 15
    assert v0[chr(0x100 + 67)] == 255  # byte 0xAD, the last remap

    merges = _GPT2_REAL_HEAD
    v = T.gpt2_vocab(merges)
    for sym, tid in [
        ("Ġt", 256), ("Ġa", 257), ("he", 258), ("in", 259),
        ("re", 260), ("on", 261), ("Ġthe", 262),
    ]:
        assert v[sym] == tid

    with pytest.raises(ValueError, match="recreates"):
        T.gpt2_vocab([("h", "e"), ("h", "e")])


# The first 10 merges of the published GPT-2 merges.txt — enough to
# cross-check id construction against the published encoder without
# shipping the 50k-line file.
_GPT2_REAL_HEAD = [
    ("Ġ", "t"), ("Ġ", "a"), ("h", "e"), ("i", "n"), ("r", "e"),
    ("o", "n"), ("Ġt", "he"), ("e", "r"), ("Ġ", "s"), ("a", "t"),
]


def test_gpt2_token_ids_known_answer_vectors(spark):
    """Known-answer vectors against the published GPT-2 encoding,
    restricted to strings whose full-vocabulary encoding uses only
    merges inside the vendored head (so prefix and full table agree):
    'he'→[258], 'in'→[259], ' the'→[262] — the ids GPT-2's shipped
    encoder emits for those strings — plus base-alphabet bytes
    ('!'→[0], '\\n'→[198], ' '→[220]) and construction checks where
    the head stops short of the full table ('A at'→[32,257,83]: ' at'
    merges (Ġ,a) then stalls, full GPT-2 would continue to 379).
    Column and Arrow-batch paths must agree on every vector."""
    vectors = [
        ("he", [258]),
        ("in", [259]),
        (" the", [262]),
        ("at", [265]),
        ("!", [0]),
        ("\n", [198]),
        (" ", [220]),
        ("", []),
        ("A at", [32, 257, 83]),
        ("the", [83, 258]),  # no (t,he) merge in the head
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(vectors)],
        "doc_id long, text string",
    )
    col_ids = {
        r.doc_id: list(r.ids)
        for r in df.select(
            "doc_id",
            T.gpt2_token_ids("text", _GPT2_REAL_HEAD).alias("ids"),
        ).collect()
    }
    bat = {
        r.doc_id: (
            [int(x) for x in r.token_ids.split(" ")] if r.token_ids else []
        )
        for r in T.gpt2_encode_ids_batch(
            df, "doc_id", "text", _GPT2_REAL_HEAD
        ).collect()
    }
    for i, (s, expected) in enumerate(vectors):
        assert col_ids[i] == expected, (s, col_ids[i], expected)
        assert bat[i] == expected, (s, bat[i], expected)
    # out-of-alphabet symbols (non-ASCII flows through the Column
    # path unmapped) degrade to NULL ids, not an ANSI job abort;
    # the batch path is the lossless UTF-8 route
    cjk = spark.createDataFrame([(0, "中")], "doc_id long, text string")
    row = cjk.select(
        T.gpt2_token_ids("text", _GPT2_REAL_HEAD).alias("ids")
    ).head()
    assert list(row.ids) == [None]


def test_gpt2_batch_non_latin_known_answers(spark):
    """Known-answer vectors for NON-LATIN strings through the
    lossless Arrow-batch path: with no applicable merges the ids are
    the published base-alphabet byte ids (bytes_to_unicode order),
    hand-derivable from the UTF-8 bytes — '中' = e4 b8 ad →
    [160, 116, 255] (0xad is the LAST remapped byte = 255), '🙂' =
    f0 9f 99 82 → [172, 253, 247, 224]; a leading space prepends
    'Ġ' = 220. The Column path degrades these to NULL ids (its
    documented ASCII scope); the batch path must be lossless."""
    vectors = [
        ("中", [160, 116, 255]),
        ("🙂", [172, 253, 247, 224]),
        (" 中文", [220, 160, 116, 255, 162, 244, 229]),
        ("привет", [140, 123, 141, 222, 140, 116, 140, 110, 140, 113, 141, 224]),
    ]
    df = spark.createDataFrame(
        [(i, s) for i, (s, _) in enumerate(vectors)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (
            [int(x) for x in r.token_ids.split(" ")] if r.token_ids else [],
            int(r.n_tokens),
        )
        for r in T.gpt2_encode_ids_batch(
            df, "doc_id", "text", _GPT2_REAL_HEAD
        ).collect()
    }
    for i, (s, expected) in enumerate(vectors):
        assert got[i] == (expected, len(expected)), (s, got[i], expected)


def test_lang_id_hashed_26_languages(spark):
    """The hash-bucketed classifier separates all 26 languages of the
    extended table (Latin morphology, uk/bg vs ru inside Cyrillic,
    RTL, Indic, CJK, Thai) on their fixture snippets; zero-weight
    text scores 'und'; the broadcast weight relation stays bounded by
    the bucket count; and the plan keeps lang_id_ngram's shape — ONE
    exchange (the per-doc aggregate), one broadcast join."""
    from mongodb_etl_migration_spark.queries import _LANG_SNIPPETS_EXT

    langs = sorted(_LANG_SNIPPETS_EXT)
    assert len(langs) == 26
    rows = [(i, _LANG_SNIPPETS_EXT[lang]) for i, lang in enumerate(langs)]
    rows.append((99, "0123 4567 89"))  # digits only -> und (modulo
    # deterministic bucket collisions, absent for this string)
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = T.lang_id_hashed(df, "doc_id", "text")
    got = {
        r.doc_id: (r.lang_pred, r.lang_score, r.lang_margin)
        for r in out.collect()
    }
    for i, lang in enumerate(langs):
        assert got[i][0] == lang, (lang, got[i])
        assert got[i][1] > 0
        # CCNet-style confidence: a clean single-language snippet's
        # winner clears the runner-up
        assert 0 < got[i][2] <= got[i][1], (lang, got[i])
    assert got[99] == ("und", 0, 0)
    # bounded broadcast: weight relation rows <= buckets + sentinel
    assert len(T.LANG_NGRAM_WEIGHTS_EXT) > 100  # vocabulary grew...
    # AQE plan strings repeat the tree under '== Initial Plan ==';
    # count only the final section
    plan = (
        out._jdf.queryExecution()
        .executedPlan()
        .toString()
        .split("== Initial Plan ==")[0]
    )
    # ...but the plan still has exactly one shuffle and one broadcast
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("BroadcastHashJoin") == 1


def test_lang_id_ngram_multiscript_and_edges(spark):
    """The char-n-gram classifier separates 8 languages across three
    scripts, scores 'und' when no gram carries weight, survives NULL
    and empty text, and breaks exact ties alphabetically."""
    rows = [
        (1, "the cat and the dog of the house is running"),
        (2, "der hund und die katze gehen durch einen garten ich"),
        (3, "el gobierno que tiene la información de los resultados"),
        (4, "le chien et les enfants du beau chateau aux oiseaux"),
        (5, "il governo della citta che gli amici di casa"),
        (6, "a informação do governo da cidade em um jardim"),
        (7, "каждый человек имеет право на жизнь и образование"),
        (8, "το σπιτι και ο ανθρωπος της πολης και τα παιδια"),
        (9, "0123 4567 89"),   # digits only -> no weighted gram -> und
        (10, None),            # NULL text -> sentinel keeps it -> und
        (11, ""),              # empty -> padded to '  ', no weight -> und
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.lang_pred, r.lang_score)
        for r in T.lang_id_ngram(df, "doc_id", "text").collect()
    }
    assert {k: v[0] for k, v in out.items()} == {
        1: "en", 2: "de", 3: "es", 4: "fr", 5: "it", 6: "pt",
        7: "ru", 8: "el", 9: "und", 10: "und", 11: "und",
    }
    assert all(v[1] > 0 for k, v in out.items() if k <= 8)
    assert all(v[1] == 0 for k, v in out.items() if k > 8)
    # deterministic alphabetical tie-break: craft a one-gram-each tie
    tie = spark.createDataFrame([(1, "ы ção")], "doc_id long, text string")
    w = {"ы": {"ru": 3}, "ção": {"pt": 3}}
    r = T.lang_id_ngram(tie, "doc_id", "text", weights=w).collect()[0]
    assert (r.lang_pred, r.lang_score) == ("pt", 3)
    import pytest

    with pytest.raises(ValueError, match="empty-string"):
        T.lang_id_ngram(tie, "doc_id", "text", weights={"": {"en": 1}})


def test_lang_id_ngram_single_exchange_plan(spark):
    """classifier_margin's scale shape, multi-class: the broadcast
    weight join must not shuffle the exploded grams — the only
    exchange is the per-document aggregate."""
    df = spark.createDataFrame([(1, "the and of")], "doc_id long, text string")
    plan = (
        T.lang_id_ngram(df, "doc_id", "text")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") - plan.count("BroadcastExchange") == 1
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_classifier_margin_paths_agree_and_edge_docs(spark):
    """Broadcast-join path == zero-shuffle map-literal path, including
    an empty doc and an all-OOV doc (both must score exactly bias)."""
    docs = spark.createDataFrame(
        [
            (1, "data data query slow"),     # 3+3+3-3 = 6
            (2, ""),                          # no tokens -> bias
            (3, "zzz qqq unseen words"),      # all OOV -> bias
            (4, "dup dup dup"),               # -24
        ],
        "doc_id long, text string",
    )
    bias = 5
    joined = {
        r.doc_id: (r.margin, r.keep)
        for r in T.classifier_margin(
            docs, "doc_id", "text", bias=bias
        ).collect()
    }
    inline = {
        r.doc_id: r.m
        for r in docs.select(
            "doc_id",
            T.classifier_margin_inline("text", bias=bias).alias("m"),
        ).collect()
    }
    assert joined == {
        1: (11, True),
        2: (5, True),
        3: (5, True),
        4: (-19, False),
    }
    assert {k: v[0] for k, v in joined.items()} == inline


def test_classifier_margin_counts_multiplicity(spark):
    """Each occurrence contributes its weight (bag-of-words, not
    set-of-words)."""
    docs = spark.createDataFrame(
        [(1, "data"), (2, "data data data")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.margin
        for r in T.classifier_margin(docs, "doc_id", "text").collect()
    }
    assert out == {1: 3, 2: 9}


def test_table_diff_statuses_and_null_sensitivity(spark):
    from mongodb_etl_migration_spark.operators import validation as V

    left = spark.createDataFrame(
        [
            (1, "a", 10),
            (2, "b", None),   # right has 'b', 20 -> changed
            (3, "c", 30),     # absent on right -> removed
            (5, None, 50),    # right has 'e', 50 -> changed (NULL vs value)
            (6, "f", 60),     # identical -> dropped
        ],
        "k long, s string, v long",
    )
    right = spark.createDataFrame(
        [
            (1, "a", 10),     # identical -> dropped
            (2, "b", 20),
            (4, "d", 40),     # absent on left -> added
            (5, "e", 50),
            (6, "f", 60),
        ],
        "k long, s string, v long",
    )
    out = {
        r.k: r.status
        for r in V.table_diff(left, right, ["k"], ["s", "v"]).collect()
    }
    assert out == {2: "changed", 3: "removed", 4: "added", 5: "changed"}


def test_table_diff_composite_key_and_empty_drift(spark):
    from mongodb_etl_migration_spark.operators import validation as V

    df = spark.createDataFrame(
        [(1, "x", "p"), (1, "y", "q"), (2, "x", "r")],
        "a long, b string, val string",
    )
    assert V.table_diff(df, df, ["a", "b"], ["val"]).count() == 0


def test_bpe_column_path_matches_reference(spark):
    """The compiled replace-chain (zero-shuffle Column path) counts
    exactly what the list-based greedy reference produces — including
    the delimiter-consumption cases that need extra flat passes."""
    words = [
        "table", "query", "scan", "join", "data", "database",
        "erer", "ererer", "ererererer", "tata", "tatata",
        "blbl", "dadada", "tabletable", "queryquery",
        "x", "", "zzz", "scantablejoinquery", "aaaa",
    ]
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", T.bpe_token_count("text").alias("n")
        ).collect()
    }
    expected = {
        i: len(T.bpe_apply_reference(w)) if w else 0
        for i, w in enumerate(words)
    }
    assert got == expected


def test_bpe_column_path_matches_reference_property(spark):
    """Randomized words over the merge alphabet, in one batch."""
    import random

    rng = random.Random(20260814)
    alpha = "tablequryjoinscd"
    words = [
        "".join(rng.choice(alpha) for _ in range(rng.randint(1, 14)))
        for _ in range(200)
    ]
    docs = spark.createDataFrame(
        [(i, w) for i, w in enumerate(words)], "doc_id long, text string"
    )
    got = {
        r.doc_id: r.n
        for r in docs.select(
            "doc_id", T.bpe_token_count("text").alias("n")
        ).collect()
    }
    expected = {i: len(T.bpe_apply_reference(w)) for i, w in enumerate(words)}
    assert got == expected


def test_nfc_normalize_composes_and_flags(spark):
    docs = spark.createDataFrame(
        [
            (1, "café"),        # decomposed -> café
            (2, "café"),          # already composed -> unchanged
            (3, "Äb plain"),     # decomposed diaeresis
            (4, "ascii only"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    from mongodb_etl_migration_spark.operators.text import nfc_normalize

    out = {r.doc_id: (r.norm_text, r.changed) for r in
           nfc_normalize(docs, "doc_id", "text").collect()}
    assert out[1] == ("caf\xe9", True)
    assert out[2] == ("caf\xe9", False)
    assert out[3] == ("\xc4b plain", True)
    assert out[4] == ("ascii only", False)
    # review fix: NULL text was not rewritten -> changed is FALSE
    # (null-safe), so audit counts still partition the corpus
    assert out[5] == (None, False)
    # the canonical-equality dedup motivation: after NFC the two cafés
    # fingerprint identically
    assert out[1][0] == out[2][0]


def test_blocklist_filter_semantics(spark):
    rows = [
        (1, "deep.sub.bad.co.uk", "clean text"),     # subdomain of blocked
        (2, "bad.co.uk", "clean text"),               # blocked exactly
        (3, "co.uk", "clean text"),                   # bare suffix: NULL domain, unblockable
        (4, "good.com", "contains spam word"),        # banned token
        (5, "good.com", "spammy but not the token"),  # substring != token
        (6, "fine.org", "clean text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, host string, text string")
    out = W.blocklist_filter(
        df, "host", "text", ["bad.co.uk"], ["spam"]
    )
    kept = sorted(r.doc_id for r in out.collect())
    assert kept == [3, 5, 6]
    doms = {r.doc_id: r.registered_domain for r in out.collect()}
    assert doms[3] is None


def test_url_quality_flags_fire_per_spam_class(spark):
    rows = [
        (1, "https://a1b2c3d4e5f6.spam.com/x"),          # digit farm
        (2, "https://a.b.c.d.e.deep.org/page"),           # subdomain chain
        (3, "https://ok.com/" + "seg/" * 40 + "leaf"),    # path bloat
        (4, "https://ok.net/p?" + "k=v&" * 30 + "z=1"),   # query bloat
        (5, "https://www.clean.com/docs/7"),              # clean
        (6, "no-scheme-at-all"),                          # host NULL
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    fl = W.url_quality_flags(F.col("url"))
    out = {
        r.doc_id: r
        for r in df.select(
            "doc_id",
            fl["digits_ok"].alias("digits_ok"),
            fl["depth_ok"].alias("depth_ok"),
            fl["path_ok"].alias("path_ok"),
            fl["url_quality_pass"].alias("ok"),
        ).collect()
    }
    assert not out[1].digits_ok and out[1].depth_ok and out[1].path_ok
    assert out[2].digits_ok and not out[2].depth_ok
    assert not out[3].path_ok and out[3].digits_ok
    assert not out[4].path_ok
    assert out[5].ok
    assert not any(out[i].ok for i in (1, 2, 3, 4))


def test_bpe_flat_chain_equals_reference_adversarial():
    """Pure-Python twin of the compiled replace-chain vs the greedy
    reference over RANDOM well-formed merge tables (duplicate-free,
    self-pair-free) — the contract _validate_flat_merges enforces.
    No Spark needed: the chain is string math."""
    import random

    from mongodb_etl_migration_spark.operators.text import (
        _BPE_PASSES,
        bpe_apply_reference,
    )

    def flat_apply(word, merges):
        s = " " + " ".join(word) + " " if word else " "
        for a, b in merges:
            pat, rep = f" {a} {b} ", f" {a}{b} "
            for _ in range(_BPE_PASSES):
                s = s.replace(pat, rep)
        return s.split()

    rng = random.Random(20260814)
    for _ in range(1500):
        symbols = list("abc")
        merges, seen = [], set()
        for _ in range(rng.randint(1, 8)):
            for _try in range(20):
                a, b = rng.choice(symbols), rng.choice(symbols)
                if a != b and (a, b) not in seen:
                    break
            else:
                continue
            seen.add((a, b))
            merges.append((a, b))
            symbols.append(a + b)
        w = "".join(rng.choice("abc") for _ in range(rng.randint(0, 18)))
        assert bpe_apply_reference(w, merges) == flat_apply(w, merges), (
            w,
            merges,
        )


def test_bpe_compiled_path_rejects_self_pair_and_duplicate():
    import pytest

    from mongodb_etl_migration_spark.operators.text import bpe_encoded_word_sql

    with pytest.raises(ValueError, match="self-pair"):
        bpe_encoded_word_sql("'aaa'", [("a", "a")])
    with pytest.raises(ValueError, match="duplicate"):
        bpe_encoded_word_sql("'ab'", [("a", "b"), ("a", "b")])


def test_classifier_margin_null_text_scores_bias(spark):
    """A NULL-text document must survive with margin == bias (review
    fix: tokens(NULL) is NULL and used to drop the sentinel row)."""
    docs = spark.createDataFrame(
        [(1, None), (2, "data")], "doc_id long, text string"
    )
    out = {
        r.doc_id: r.margin
        for r in T.classifier_margin(docs, "doc_id", "text", bias=7).collect()
    }
    assert out == {1: 7, 2: 10}
    # the inline path must agree on NULL text too (review fix:
    # F.aggregate over a NULL token array propagated a NULL margin)
    inline = {
        r.doc_id: r.m
        for r in docs.select(
            "doc_id",
            T.classifier_margin_inline("text", bias=7).alias("m"),
        ).collect()
    }
    assert inline == out
    import pytest

    with pytest.raises(ValueError, match="empty-string"):
        T.classifier_margin(docs, "doc_id", "text", weights={"": 1})


def test_blocklist_filter_null_text_passes_word_gate(spark):
    df = spark.createDataFrame(
        [(1, "good.com", None), (2, "bad.co.uk", None)],
        "doc_id long, host string, text string",
    )
    kept = [r.doc_id for r in
            W.blocklist_filter(df, "host", "text", ["bad.co.uk"], ["spam"]).collect()]
    assert kept == [1]


def test_nfc_changed_is_false_for_null(spark):
    from mongodb_etl_migration_spark.operators.text import nfc_normalize

    docs = spark.createDataFrame([(1, None)], "doc_id long, text string")
    r = nfc_normalize(docs, "doc_id", "text").collect()[0]
    assert r.changed is False and r.norm_text is None


def test_url_quality_uppercase_scheme(spark):
    fl = W.url_quality_flags(F.col("url"))
    df = spark.createDataFrame(
        [(1, "HTTP://Example.com/a")], "doc_id long, url string"
    )
    r = df.select(fl["path_len"].alias("pl")).collect()[0]
    assert r.pl == 2  # '/a', not the whole URL


def test_dedup_paragraphs_first_wins_and_reassembly(spark):
    from mongodb_etl_migration_spark.operators.text import dedup_paragraphs

    docs = spark.createDataFrame(
        [
            (1, "BANNER here\nunique one\nfooter text"),
            (2, "banner, HERE!\nunique two\nfooter text"),  # banner dupe (normalized)
            (3, "footer text"),                               # fully duplicated -> gone
            (4, "unique four\n\nafter blank"),                # blank line kept as structure
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.clean_text, r.n_lines_kept, r.n_lines_total)
        for r in dedup_paragraphs(docs, "doc_id", "text").collect()
    }
    # doc 1 keeps everything (first occurrences); doc 2 loses banner +
    # footer (punctuation/case-insensitive hash); doc 3 disappears
    assert out[1] == ("BANNER here\nunique one\nfooter text", 3, 3)
    assert out[2] == ("unique two", 1, 3)
    assert 3 not in out
    assert out[4] == ("unique four\n\nafter blank", 3, 3)


def test_gopher_repetition_flags_exact(spark):
    docs = spark.createDataFrame(
        [
            (1, "same line\nsame line\nsame line"),      # all dup lines
            # clean doc must be LONG: with only a few bigrams any one
            # covers >20% of chars (Gopher composes the repetition
            # rules with the words_ok minimum for exactly this reason)
            (2, "\n".join(f"w{i}a w{i}b w{i}c w{i}d" for i in range(12))),
            (3, "dog cat dog cat dog cat dog cat"),       # one bigram dominates
            (4, ""),                                       # empty
        ],
        "doc_id long, text string",
    )
    fl = T.gopher_repetition_flags("text")
    out = {
        r.doc_id: r
        for r in docs.select(
            "doc_id",
            fl["dup_line_frac"].alias("dlf"),
            fl["dup_line_char_frac"].alias("dlcf"),
            fl["top_bigram_char_frac"].alias("tbf"),
            fl["gopher_rep_pass"].alias("ok"),
        ).collect()
    }
    assert abs(out[1].dlf - 2 / 3) < 1e-12
    assert abs(out[1].dlcf - 2 / 3) < 1e-12
    assert not out[1].ok
    assert out[2].dlf == 0.0 and out[2].ok is True
    # doc 3: "dog cat" appears 4x as a bigram over 31 token chars
    assert out[3].tbf > 0.5 and not out[3].ok
    assert out[4].dlf == 0.0 and out[4].tbf == 0.0


def _rep_brute(text: str, n: int) -> tuple[int, int]:
    """Brute-force (top_chars, dup_chars) for n-grams: count every
    gram, top = max(count * len), dup = sum((count-1) * len)."""
    import re
    from collections import Counter

    toks = re.findall(r"[a-z0-9]+", (text or "").lower())
    grams = [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    if not grams:
        return 0, 0
    c = Counter(grams)
    return (
        max(k * len(g) for g, k in c.items()),
        sum((k - 1) * len(g) for g, k in c.items()),
    )


def test_gram_run_stats_matches_bruteforce(spark):
    """gram_run_stats (sorted-run O(L log L) fold) must agree with a
    count-every-distinct brute force for every n in the Gopher set,
    including short docs (< n tokens), empty, and NULL."""
    texts = [
        "dog cat dog cat dog cat dog cat",
        "a b c d e f g h i j a b c d e f g h i j",
        "one two three",
        "x",
        "",
        None,
        "aa aa aa aa aa aa aa aa aa aa aa aa",
        "p q r s t u v p q r s t u v w p q r",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    for n in (2, 3, 5, 10):
        out = {
            r.doc_id: (r.s["top"] or 0, r.s["dup"] or 0)
            for r in docs.select(
                "doc_id",
                T.gram_run_stats(
                    F.array_sort(ngrams_array("text", n))
                ).alias("s"),
            ).collect()
        }
        for i, t in enumerate(texts):
            assert out[i] == _rep_brute(t, n), (n, i, t)


def test_gram_fold_sql_matches_column_form(spark):
    """The one-expr SQL template with_gopher_repetition builds its
    nine folds from must agree EXACTLY with the Column-API form
    (gram_run_stats over array_sort(ngrams_array(...))) it mirrors —
    the r14 driver-side build optimization changes construction cost
    only, never a value. Edge cases: empty, NULL, < n tokens,
    all-identical tokens, interleaved repeats, unicode tokens."""
    texts = [
        "dog cat dog cat dog cat dog cat",
        "a b c d e f g h i j a b c d e f g h i j",
        "one two three",
        "x",
        "",
        None,
        "aa aa aa aa aa aa aa aa aa aa aa aa",
        "p q r s t u v p q r s t u v w p q r",
        "héllo wörld héllo wörld héllo wörld",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    ).select("doc_id", T.tokens("text").alias("__grt"))
    for n in (2, 3, 5, 10):
        rows = docs.select(
            "doc_id",
            T.gram_run_stats(
                F.array_sort(ngrams_array("text", n, F.col("__grt")))
            ).alias("col_form"),
            F.expr(T._gram_fold_sql(n)).alias("sql_form"),
        ).collect()
        for r in rows:
            assert r.col_form == r.sql_form, (n, r.doc_id)


def test_with_gopher_repetition_full_ruleset(spark):
    """The staged transform emits all 11 §A1.1 fractions with the
    paper's thresholds; planted docs trip exactly the rule they
    target."""
    long_clean = "\n".join(
        f"w{i}a w{i}b w{i}c w{i}d" for i in range(12)
    )
    dup10 = " ".join(
        ["a b c d e f g h i j"] * 2 + ["unique" + str(i) for i in range(60)]
    )
    docs = spark.createDataFrame(
        [
            (1, long_clean),
            (2, "dog cat dog cat dog cat dog cat"),
            (3, dup10),
            (4, None),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r for r in T.with_gopher_repetition(docs, "text").collect()
    }
    assert out[1].gopher_rep_pass is True
    # doc 2: one bigram dominates -> fails top-2gram (and friends)
    assert out[2].top_2gram_char_frac > 0.20
    assert out[2].gopher_rep_pass is False
    # doc 3: a repeated 10-token run -> dup_10gram numerator is the
    # duplicated grams' chars; clean tail keeps top-2 share low
    assert out[3].dup_10gram_char_frac > 0.0
    assert out[4].gopher_rep_pass is True  # NULL text: all zeros
    # per-n columns agree with brute force on doc 3
    for n in (5, 10):
        _, dup = _rep_brute(dup10, n)
        import re

        toks = re.findall(r"[a-z0-9]+", dup10.lower())
        tc = len(" ".join(toks))
        assert abs(
            getattr(out[3], f"dup_{n}gram_char_frac") - dup / tc
        ) < 1e-12


def test_sitemap_urls_extraction(spark):
    xml = (
        '<?xml version="1.0"?><urlset>'
        "<url><loc> https://a.com/1 </loc><lastmod>2024-05-01</lastmod></url>"
        "<url><loc>https://a.com/q?x=1&amp;y=2</loc></url>"
        "<sitemap><loc>https://a.com/more.xml</loc></sitemap>"
        "<url><lastmod>2024-01-01</lastmod></url>"  # malformed: no loc
        "</urlset>"
    )
    df = spark.createDataFrame([(1, xml)], "doc_id long, xml string")
    out = [
        (r.loc, r.lastmod, r.is_index)
        for r in W.sitemap_urls(df, "doc_id", "xml").collect()
    ]
    assert out == [
        ("https://a.com/1", "2024-05-01", False),
        ("https://a.com/q?x=1&y=2", None, False),
        ("https://a.com/more.xml", None, True),
    ]


def test_robots_sitemaps_directives(spark):
    body = (
        "User-agent: *\r\nDisallow: /private\r\n"
        "SITEMAP:  https://a.com/sitemap.xml \t\r\r\n"  # mangled CRLF
        "sitemap: https://a.com/news.xml\n"
        "# sitemap: commented out — still matches? no: leading #\n"
    )
    df = spark.createDataFrame([("a.com", body)], "host string, text string")
    out = sorted(
        r.sitemap_url for r in W.robots_sitemaps(df, "host", "text").collect()
    )
    assert out == ["https://a.com/news.xml", "https://a.com/sitemap.xml"]


def test_sitemap_frontier_recursion_gzip_and_cycles(spark):
    """sitemapindex recursion: a 3-level nest (index → child index →
    urlset), a gzipped child (.xml.gz content, found by magic bytes,
    not extension), a SELF-REFERENCING index (must not loop), a seed
    pointing at a missing page (contributes nothing), and the
    max_depth bound."""
    import gzip

    def urlset(*locs):
        return "<urlset>" + "".join(
            f"<url><loc>{u}</loc><lastmod>{lm}</lastmod></url>"
            if lm
            else f"<url><loc>{u}</loc></url>"
            for u, lm in locs
        ) + "</urlset>"

    def index(*locs):
        return "<sitemapindex>" + "".join(
            f"<sitemap><loc>{u}</loc></sitemap>" for u in locs
        ) + "</sitemapindex>"

    pages = [
        # level-0 index: one plain child, one gz child, ITSELF (cycle)
        ("https://a.com/sitemap.xml",
         index("https://a.com/sub.xml", "https://a.com/gz.xml",
               "https://a.com/sitemap.xml").encode()),
        # level-1 plain child: leaves + a level-2 index
        ("https://a.com/sub.xml",
         urlset(("https://a.com/p1", "2024-01-02"),
                ("https://a.com/p2", None)).replace(
             "</urlset>",
             "<sitemap><loc>https://a.com/deep.xml</loc></sitemap></urlset>",
         ).encode()),
        # level-1 gz child: content gzipped, URL does NOT say .gz
        ("https://a.com/gz.xml",
         gzip.compress(urlset(("https://a.com/g1", "2023-12-31")).encode(),
                       mtime=0)),
        # level-2 leaves
        ("https://a.com/deep.xml",
         urlset(("https://a.com/d1", None)).encode()),
    ]
    pdf = spark.createDataFrame(pages, "url string, payload binary")
    seeds = spark.createDataFrame(
        [("https://a.com/sitemap.xml",), ("https://a.com/missing.xml",)],
        "sitemap_url string",
    )
    out = W.sitemap_frontier(pdf, "url", "payload", seeds, max_depth=3)
    got = {(r.loc, r.lastmod, r.depth) for r in out.collect()}
    assert got == {
        ("https://a.com/p1", "2024-01-02", 1),
        ("https://a.com/p2", None, 1),
        ("https://a.com/g1", "2023-12-31", 1),
        ("https://a.com/d1", None, 2),
    }
    # depth bound: max_depth=2 stops before the deep urlset
    shallow = W.sitemap_frontier(pdf, "url", "payload", seeds, max_depth=2)
    assert {r.loc for r in shallow.collect()} == {
        "https://a.com/p1", "https://a.com/p2", "https://a.com/g1",
    }
    # corrupt gzip fails loudly with the url named
    import pytest

    bad = spark.createDataFrame(
        [("https://b.com/s.xml", b"\x1f\x8b\x00broken")],
        "url string, payload binary",
    )
    bseeds = spark.createDataFrame(
        [("https://b.com/s.xml",)], "sitemap_url string"
    )
    with pytest.raises(Exception, match="corrupt gzip"):
        W.sitemap_frontier(bad, "url", "payload", bseeds).collect()


def test_dedup_paragraphs_structure_lines_survive(spark):
    """Separator/digit-only lines hash to nothing: every doc keeps its
    own '---' and date lines (review fix: they all normalized to ''
    and cross-deduplicated corpus-wide)."""
    from mongodb_etl_migration_spark.operators.text import dedup_paragraphs

    docs = spark.createDataFrame(
        [(1, "alpha\n---\n2024"), (2, "beta\n---\n42"), (3, None)],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.clean_text
        for r in dedup_paragraphs(docs, "doc_id", "text").collect()
    }
    assert out[1] == "alpha\n---\n2024"
    assert out[2] == "beta\n---\n42"
    assert out[3] == ""  # NULL text survives as one empty line


def test_cpu_fan_out_pins_plan_shape(spark, tmp_path):
    """The CPU fan-out gate is PINNABLE (ADVICE r9): fan_out=False
    never adds an exchange even on a 1-file source (where the
    heuristic would), fan_out=True always adds one even on an
    in-memory frame (where the heuristic would not) — so receipt
    runs comparing plans across hosts/tiers can hold the shape
    constant regardless of cores or file count."""
    p = str(tmp_path / "one_file")
    spark.createDataFrame(
        [(i, f"text {i}") for i in range(100)], "doc_id long, text string"
    ).coalesce(1).write.mode("overwrite").parquet(p)
    one_file = spark.read.parquet(p)
    assert len(one_file.inputFiles()) == 1

    def n_exchanges(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        return plan.count("Exchange ")

    # heuristic on a 1-file source (32 cores): fans out
    assert n_exchanges(T.cpu_fan_out(one_file, None)) == 1
    # pinned off: zero exchanges on the same source
    assert n_exchanges(T.cpu_fan_out(one_file, False)) == 0
    # pinned on: fans out even where the heuristic would not
    mem = spark.createDataFrame([(1, "t")], "doc_id long, text string")
    assert mem.inputFiles() == []
    assert n_exchanges(T.cpu_fan_out(mem, None)) == 0
    assert n_exchanges(T.cpu_fan_out(mem, True)) == 1
    # rows are shape-invariant
    assert T.cpu_fan_out(one_file, False).count() == 100
    assert T.cpu_fan_out(one_file, True).count() == 100


def test_gopher_repetition_blank_separated_prose_passes(spark):
    fl = T.gopher_repetition_flags("text")
    doc = "\n\n".join(f"para {i} unique words here" for i in range(8))
    df = spark.createDataFrame([(1, doc)], "doc_id long, text string")
    r = df.select(
        fl["dup_line_frac"].alias("dlf"), fl["rep_lines_ok"].alias("ok")
    ).collect()[0]
    assert r.dlf == 0.0 and r.ok


def test_dedup_paragraphs_nonlatin_boilerplate_dedups(spark):
    """Cyrillic cookie banners have no [a-z] tokens; the fallback
    normalization must still cross-dedup them (review fix: they were
    exempted as 'structure'), while true separators stay exempt."""
    from mongodb_etl_migration_spark.operators.text import dedup_paragraphs

    banner = "\u041f\u043e\u043b\u0438\u0442\u0438\u043a\u0430 cookie"
    docs = spark.createDataFrame(
        [
            (1, f"{banner}\nunique one\n---"),
            (2, f"{banner}\nunique two\n---"),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.clean_text
        for r in dedup_paragraphs(docs, "doc_id", "text").collect()
    }
    assert out[1] == f"{banner}\nunique one\n---"
    assert out[2] == "unique two\n---"  # banner deduped, separator kept


def test_table_diff_symmetry(spark):
    """diff(b, a) mirrors diff(a, b): removed and added swap, changed
    stays changed — the property that makes the report direction-
    agnostic for audits."""
    from mongodb_etl_migration_spark.operators import validation as V

    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z")], "k long, v string"
    )
    b = spark.createDataFrame(
        [(1, "x"), (2, "Y"), (4, "w")], "k long, v string"
    )
    ab = {r.k: r.status for r in V.table_diff(a, b, ["k"], ["v"]).collect()}
    ba = {r.k: r.status for r in V.table_diff(b, a, ["k"], ["v"]).collect()}
    assert ab == {2: "changed", 3: "removed", 4: "added"}
    assert ba == {2: "changed", 3: "added", 4: "removed"}


def test_dedup_paragraphs_within_doc_duplicates(spark):
    """A line repeated INSIDE one document keeps only its first
    occurrence too (global first-wins covers within-doc)."""
    from mongodb_etl_migration_spark.operators.text import dedup_paragraphs

    docs = spark.createDataFrame(
        [(1, "chorus line\nverse one\nchorus line\nverse two")],
        "doc_id long, text string",
    )
    r = dedup_paragraphs(docs, "doc_id", "text").collect()[0]
    assert r.clean_text == "chorus line\nverse one\nverse two"
    assert (r.n_lines_kept, r.n_lines_total) == (3, 4)


def test_crawl_schedule_stalest_first_and_subdomain_budget(spark):
    """NULL lastmod (never crawled) ranks first; the per-domain budget
    spans SUBDOMAINS of one registered domain (farms can't multiply
    allocation)."""
    rows = [
        ("https://a.ex.com/new", None),
        ("https://b.ex.com/old", "2023-01-01"),
        ("https://ex.com/mid", "2024-01-01"),
        ("https://other.org/x", "2020-01-01"),
    ]
    df = spark.createDataFrame(rows, "loc string, lastmod string")
    out = {
        r.loc: (r.registered_domain, r.fetch_rank)
        for r in W.crawl_schedule(df, "loc", "lastmod", per_domain=2).collect()
    }
    assert out["https://a.ex.com/new"] == ("ex.com", 1)   # unknown first
    assert out["https://b.ex.com/old"] == ("ex.com", 2)   # stalest next
    assert "https://ex.com/mid" not in out                 # over budget
    assert out["https://other.org/x"] == ("other.org", 1)


def test_bpe_train_matches_reference_with_ties_and_early_stop(spark):
    """Distributed trainer == plain-Python reference on a corpus with
    a deliberate pair-count TIE (lexicographic tie-break decides),
    overlapping runs (zip-adjacent counting), and a min_count early
    stop; the learned table then feeds the encode path."""
    rows = [
        (1, "abab abab cdcd"),   # (a,b) and... craft ties below
        (2, "cdcd abab"),
        (3, "aaa aaa"),          # run: (a,a) counted overlapping
        (4, "xy"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges, vocab = T.bpe_train(df, "text", n_merges=10, min_count=2)
    wc = {}
    for _, t in rows:
        import re

        for w in re.findall("[a-z0-9]+", t.lower()):
            wc[w] = wc.get(w, 0) + 1
    ref = bpe_train_reference(wc, 10, min_count=2)
    assert merges == ref
    assert len(merges) < 10  # min_count stopped training early
    # this table contains a SELF-PAIR ('a','a') from the runs, so the
    # compiled Column path must reject it
    flat = [(a, b) for a, b, _ in merges]
    assert ("a", "a") in flat
    import pytest

    with pytest.raises(ValueError, match="self-pair"):
        df.select(T.bpe_token_count("text", merges=flat)).collect()
    # the audit vocab is fully merged under the learned table
    vrows = {r.w: r.sym for r in vocab.collect()}
    assert set(vrows) == set(wc)


def test_bpe_batched_selection_adversarial_fixtures():
    """The batch-compatibility guards, each pinned on a fixture where
    NAIVE batching (take the top-k stale pairs with disjoint symbols)
    would diverge from the sequential schedule:

    1. created-pair overtake: every 'a b' is preceded by 'x', so the
       new pair (x, ab) outranks the stale #2 — the triple bound
       (maxtri) must end the batch after (a, b);
    2. created-pair TIE + lex steal: the new pair ties the stale #2's
       count but sorts lexicographically before it — strict
       inequality on the bound must reject, not >=;
    3. output conflation: a merge whose output string equals an
       existing symbol INCREASES an original pair's count mid-round —
       the collide flag must end the batch at that merge;
    4. genuinely independent merges DO batch (the device actually
       compresses rounds)."""
    ref = bpe_train_reference
    bat = bpe_train_batched_reference

    # 1. overtake: (a,b)=11 > (c,d)=9, but tri (x,a,b)=10 >= 9
    wc1 = {"xab": 10, "ab": 1, "cd": 9}
    stats = {}
    got = bat(wc1, 4, min_count=2, batch_cap=64, stats=stats)
    assert got == ref(wc1, 4, min_count=2)
    # sequential merges (x, ab) SECOND — the naive batch would have
    # emitted (c, d) there; prove the trap is actually armed
    assert got[1][:2] == ("x", "ab"), got
    assert stats["batch_sizes"][0] == 1  # batch ended after (a,b)

    # 2. tie + lex steal: craft tri count == stale #2 count, with the
    # created pair lex-BEFORE the stale #2 ('aXY' style names sort
    # before 'm'): every 'x y' preceded by 'a'; (m,n) ties the new
    # (a, xy) at 9 and 'a' < 'm'
    wc2 = {"axy": 9, "xy": 1, "mn": 9}
    got2 = bat(wc2, 4, min_count=2, batch_cap=64)
    assert got2 == ref(wc2, 4, min_count=2)
    assert got2[1][:2] == ("a", "xy"), got2

    # 3. conflation: merging (a,b) creates symbol 'ab' while words
    # 'zab'/'z-ab'-shaped contexts already hold a DIFFERENT 'ab'...
    # build it with a prior round: after (a,b) merges in 'cab' and
    # 'ab', symbol 'ab' exists; then (c,ab) merges output 'cab'
    # colliding with word 'cab' would need symbol 'cab' — instead
    # exercise the flag directly: words where pair (z, ab) exists
    # pre-round via an earlier merge, and a second merge (a, b)
    # cannot batch with it. Multi-round equality is the contract:
    wc3 = {"zab": 6, "ab": 5, "aab": 4, "zz": 3}
    assert bat(wc3, 6, min_count=2, batch_cap=64) == ref(
        wc3, 6, min_count=2
    )

    # 4. independent merges batch in one round
    wc4 = {"ab": 10, "cd": 9, "ef": 8, "gh": 7}
    stats4 = {}
    got4 = bat(wc4, 4, min_count=2, batch_cap=64, stats=stats4)
    assert got4 == ref(wc4, 4, min_count=2)
    assert stats4["rounds"] == 1 and stats4["batch_sizes"] == [4]

    # batch_cap=1 degenerates to the sequential loop exactly
    for wc in (wc1, wc2, wc3, wc4):
        assert bat(wc, 6, min_count=2, batch_cap=1) == ref(
            wc, 6, min_count=2
        )


def test_bpe_batched_equals_sequential_property():
    """Randomized trajectory equality: batched == sequential on
    hundreds of random small corpora over a 3-letter alphabet (tiny
    alphabets maximize interactions: runs, ties, conflations are the
    NORM there, not the exception), across batch caps and min_counts.
    hypothesis drives the search; any counterexample shrinks to a
    minimal corpus."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    corpora = st.dictionaries(
        st.text(alphabet="ab3", min_size=1, max_size=7),
        st.integers(min_value=1, max_value=12),
        min_size=1,
        max_size=8,
    )

    @settings(max_examples=300, deadline=None)
    @given(
        wc=corpora,
        cap=st.sampled_from([1, 2, 3, 8, 64]),
        mc=st.sampled_from([1, 2, 3]),
    )
    def check(wc, cap, mc):
        ref = bpe_train_reference(wc, 12, min_count=mc)
        got = bpe_train_batched_reference(
            wc, 12, min_count=mc, batch_cap=cap
        )
        assert got == ref, (wc, cap, mc)

    check()


def test_bpe_train_spark_batched_equals_reference_forced_interactions(spark):
    """The SPARK batched trainer (not just the Python twin) on a
    corpus stacking every interaction class at once — overtakes,
    ties, runs, conflation chains — equals the sequential reference,
    and reports its round count via stats (fewer rounds than merges:
    batching actually engaged)."""
    rows = [
        (1, "xab xab xab xab xab ab cd cd cd"),
        (2, "axy axy axy xy mn mn mn"),
        (3, "zab zab ab aab aaa aaa"),
        (4, "pq rs tu vw pq rs tu vw"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    wc = {}
    import re

    for _, t in rows:
        for w in re.findall("[a-z0-9]+", t.lower()):
            wc[w] = wc.get(w, 0) + 1
    ref = bpe_train_reference(wc, 14, min_count=2)
    stats = {}
    # mode='distributed': this test pins the vocabulary-resident
    # batch machinery (auto would collect the tiny vocab and train
    # driver-side — covered by test_bpe_train_modes_agree...)
    merges, _ = T.bpe_train(
        df, "text", n_merges=14, min_count=2, stats=stats,
        mode="distributed",
    )
    assert merges == ref
    twin_stats = {}
    twin = bpe_train_batched_reference(
        wc, 14, min_count=2, stats=twin_stats
    )
    assert twin == ref
    # schedule twin: same rounds, same batch sizes as the Spark run
    assert stats["rounds"] == twin_stats["rounds"]
    assert stats["batch_sizes"] == twin_stats["batch_sizes"]
    assert stats["rounds"] < len(merges)  # batching engaged


def test_bpe_train_tie_break_is_lexicographic(spark):
    """Two pairs with identical counts: the lexicographically smaller
    (left, right) must win on both the engine and the reference."""
    df = spark.createDataFrame(
        [(1, "zy zy"), (2, "ab ab")], "doc_id long, text string"
    )
    merges, _ = T.bpe_train(df, "text", n_merges=1)
    assert merges == [("a", "b", 2)]  # ties with ('z','y') at 2


def test_merges_txt_roundtrip_train_ship_load_encode(spark):
    """The tokenizer round-trip: bpe_train -> merges_to_text ->
    parse_merges is identity on the pair list, and the reloaded table
    encodes identically to the in-memory one."""
    df = spark.createDataFrame(
        [(1, "table table tablet"), (2, "stable tables")],
        "doc_id long, text string",
    )
    merges, _ = T.bpe_train(df, "text", n_merges=6)
    flat = [(a, b) for a, b, _ in merges]
    txt = merges_to_text(merges)
    assert txt.startswith("#version")
    assert T.parse_merges(txt) == flat
    words = ["table", "tablet", "stable", "tables"]
    assert [T.bpe_apply_reference(w, flat) for w in words] == [
        T.bpe_apply_reference(w, T.parse_merges(txt)) for w in words
    ]
    import pytest

    with pytest.raises(ValueError, match="unserializable"):
        merges_to_text([("a b", "c")])


def test_robots_wildcard_matching_fuzz_vs_python_reference(spark):
    """Property fuzz for the RFC 9309 pattern compiler: 300 random
    (pattern, path) cases over a metachar-heavy alphabet, Spark's
    compiled-regex match vs an independent Python reference built
    with re.escape — the two constructions share no code, so
    agreement pins the semantics, not the implementation."""
    import random
    import re

    rng = random.Random(906)
    alpha = "ab/.*$+?()[]{}|\\"

    def rand_s(maxlen):
        return "".join(
            rng.choice(alpha) for _ in range(rng.randint(0, maxlen))
        )

    cases = []
    for _ in range(300):
        pat = "/" + rand_s(8)
        path = "/" + rand_s(10)
        cases.append((pat, path))
    # deliberate anchored/wildcard shapes on real-ish paths
    cases += [
        ("/*.pdf$", "/a/b/c.pdf"), ("/*.pdf$", "/a.pdfx"),
        ("/a*b*c", "/aXbYc"), ("/a**b", "/ab"), ("/$", "/"),
        ("/a$$", "/a$"), ("/a$$", "/a"),
    ]

    def ref_match(pat: str, path: str) -> bool:
        anchored = pat.endswith("$")
        body = pat[:-1] if anchored else pat
        rx = "^" + ".*".join(re.escape(seg) for seg in body.split("*"))
        if anchored:
            rx += "$"
        return re.search(rx, path) is not None

    df = spark.createDataFrame(cases, "pat string, path string")
    got = {
        (r.pat, r.path): r.m
        for r in df.select(
            "pat",
            "path",
            F.rlike(F.col("path"), W.robots_pattern_regex(F.col("pat"))).alias("m"),
        ).collect()
    }
    for pat, path in cases:
        assert got[(pat, path)] == ref_match(pat, path), (pat, path)


def test_robots_crawl_delay_group_selection_and_last_wins(spark):
    body = (
        "User-agent: googlebot\n"
        "Crawl-delay: 2\n"
        "Disallow: /g/\n"
        "User-agent: *\n"
        "Crawl-delay: nonsense\n"   # non-numeric: ignored
        "Crawl-delay: 5\n"
        "Crawl-delay: 7.5\n"        # last numeric at the specificity wins
    )
    df = spark.createDataFrame(
        [("a.com", body), ("b.com", "User-agent: *\nDisallow: /x/\n")],
        "host string, text string",
    )
    star = {
        r.host: r.crawl_delay
        for r in W.robots_crawl_delay(df, "host", "text").collect()
    }
    assert star == {"a.com": 7.5}  # b.com declares none -> omitted
    goog = {
        r.host: r.crawl_delay
        for r in W.robots_crawl_delay(
            df, "host", "text", user_agent="googlebot-news"
        ).collect()
    }
    assert goog == {"a.com": 2.0}  # prefix-matched specific group wins


def test_remove_duplicated_spans_surgery(spark):
    """Span removal: the shared 8-token prefix is cut from BOTH
    carriers, a fully-duplicated doc empties (clean_text '', not
    NULL), a unique doc passes through byte-identical with
    n_removed = 0."""
    base8 = "one two three four five six seven eight"
    rows = [
        (1, base8 + " tail1 here"),
        (2, base8 + " other2 words"),
        (3, "totally unique document nine ten"),
        (4, base8),  # nothing but the duplicated window
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.clean_text, r.n_removed)
        for r in T.remove_duplicated_spans(df, "doc_id", "text").collect()
    }
    assert out == {
        1: ("tail1 here", 8),
        2: ("other2 words", 8),
        3: ("totally unique document nine ten", 0),
        4: ("", 8),
    }


def test_fixlog2_accuracy_and_domain(spark):
    """fixlog2 approximates log2(a/b)·2^16 within 1 LSB across the
    magnitude range, is exact on powers of two, and rejects inputs
    outside the exact-double domain."""
    import math

    import pytest

    from mongodb_etl_migration_spark.operators.text import fixlog2

    for a, b in [(1, 1), (1, 2), (1, 3), (2, 3), (5, 7), (123, 100000),
                 (1, 2**40), (999983, 10**6), (7, 2**52)]:
        got = fixlog2(a, b)
        want = math.log2(a / b) * 65536
        assert abs(got - want) <= 1.5, (a, b, got, want)
    assert fixlog2(1, 4) == -2 * 65536  # exact on powers of two
    for bad in [(0, 5), (6, 5), (1, 2**53)]:
        with pytest.raises(ValueError, match="fixlog2"):
            fixlog2(*bad)


def test_dsir_weights_orders_by_target_likeness(spark):
    """dsir_weights: documents made of target-corpus vocabulary score
    higher than off-target documents; token counts are exact; scores
    are deterministic across recomputation (the fixed-point table is
    data-derived, not RNG-derived)."""
    from pyspark.sql import functions as F

    from mongodb_etl_migration_spark.operators.text import dsir_weights

    rows = []
    # target slice: english-ish vocab
    for i in range(20):
        rows.append((i, "the model learns from clean english text data", True))
    # raw-only slice: disjoint vocab
    for i in range(20, 40):
        rows.append((i, "zzq qqz xxv vvx wwu uuw yyt tty", False))
    # probe docs, not in target: one english-like, one junk-like
    rows.append((100, "clean english text", False))
    rows.append((101, "zzq xxv wwu", False))
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    res = {
        r.doc_id: (r.n_tokens, r.dsir_score)
        for r in dsir_weights(df, "doc_id", "text", "is_t").collect()
    }
    assert res[100][0] == 3 and res[101][0] == 3
    assert res[100][1] > res[101][1]  # target-like beats junk
    # deterministic: a second full computation matches exactly
    res2 = {
        r.doc_id: (r.n_tokens, r.dsir_score)
        for r in dsir_weights(df, "doc_id", "text", "is_t").collect()
    }
    assert res == res2


def test_with_fixlog2_column_equals_scalar(spark):
    """The unrolled column chain reproduces scalar fixlog2 exactly on
    random ratios spanning the magnitude range (same IEEE recurrence,
    named intermediates keep the plan linear)."""
    import random

    from mongodb_etl_migration_spark.operators.text import (
        fixlog2,
        with_fixlog2,
    )

    random.seed(11)
    rows = []
    for i in range(80):
        b = random.randint(1, 2**52)
        a = random.randint(1, b)
        rows.append((i, a, b))
    df = spark.createDataFrame(rows, "i long, a long, b long")
    got = {r.i: r.s for r in with_fixlog2(df, "a", "b", "s").collect()}
    assert all(got[i] == fixlog2(a, b) for i, a, b in rows)


def test_backoff_lm_fluency_ordering(spark):
    """Stupid Backoff: a held-out document repeating trained bigrams
    outscores (per pair) one of unseen vocabulary; training docs
    score the trained-bigram path; <2-token docs produce no row."""
    from mongodb_etl_migration_spark.operators.text import backoff_lm_scores

    rows = [
        (0, "the cat sat on the mat", True),
        (2, "the cat sat on the mat again", True),
        (1, "the cat sat on the mat", False),   # fluent held-out
        (3, "zorp blarg quux flibber znork", False),  # junk held-out
        (5, "word", False),                      # single token
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, tr boolean")
    res = {
        r.doc_id: (r.n_scored, r.backoff_score)
        for r in backoff_lm_scores(df, "doc_id", "text", "tr").collect()
    }
    assert 5 not in res
    assert res[1][0] == 5 and res[3][0] == 4
    # per-pair mean score: fluent >> junk
    assert res[1][1] / res[1][0] > res[3][1] / res[3][0]
    # deterministic across recomputation
    res2 = {
        r.doc_id: (r.n_scored, r.backoff_score)
        for r in backoff_lm_scores(df, "doc_id", "text", "tr").collect()
    }
    assert res == res2


def test_loader_shards_manifest(spark):
    """Shard manifest semantics: consecutive epoch positions block
    into shards of shard_size (last shard partial), position ranges
    are exact, and the digest is ORDER-SENSITIVE — swapping two
    payloads within a shard changes its digest while leaving every
    count/range column identical."""
    import hashlib

    rows = [(i, f"payload-{i}") for i in range(7)]
    df = spark.createDataFrame(rows, "epoch_pos long, token_ids string")
    got = {
        r.shard_id: (r.n_seqs, r.first_pos, r.last_pos, r.shard_digest)
        for r in T.loader_shards(
            df, "epoch_pos", "token_ids", shard_size=3
        ).collect()
    }

    def ref_digest(payloads):
        return hashlib.md5(
            "".join(
                hashlib.md5(
                    ("null:" if p is None else f"v:{p}").encode()
                ).hexdigest()
                for p in payloads
            ).encode()
        ).hexdigest()

    assert got == {
        0: (3, 0, 2, ref_digest(["payload-0", "payload-1", "payload-2"])),
        1: (3, 3, 5, ref_digest(["payload-3", "payload-4", "payload-5"])),
        2: (1, 6, 6, ref_digest(["payload-6"])),
    }
    # order sensitivity: swap payloads at positions 0 and 1
    swapped = [(0, "payload-1"), (1, "payload-0")] + rows[2:]
    df2 = spark.createDataFrame(swapped, "epoch_pos long, token_ids string")
    got2 = {
        r.shard_id: r.shard_digest
        for r in T.loader_shards(
            df2, "epoch_pos", "token_ids", shard_size=3
        ).collect()
    }
    assert got2[0] != got[0][3] and got2[1] == got[1][3]

    # NULL payloads are part of the digest, not silently skipped:
    # NULLing a payload changes the digest (n_seqs already counted
    # it), and a NULL at position 0 vs 1 gives different digests
    nulled = [(0, None), (1, "payload-1"), (2, "payload-2")]
    moved = [(0, "payload-1"), (1, None), (2, "payload-2")]
    dig = {}
    for tag, data in (("nulled", nulled), ("moved", moved)):
        dfn = spark.createDataFrame(
            data, "epoch_pos long, token_ids string"
        )
        (row,) = T.loader_shards(
            dfn, "epoch_pos", "token_ids", shard_size=3
        ).collect()
        assert row.n_seqs == 3
        dig[tag] = row.shard_digest
    assert dig["nulled"] == ref_digest([None, "payload-1", "payload-2"])
    assert dig["nulled"] != got[0][3]
    assert dig["nulled"] != dig["moved"]
    # ...and the marker cannot be aliased by a real payload spelling it
    (alias_row,) = T.loader_shards(
        spark.createDataFrame(
            [(0, "null:")], "epoch_pos long, token_ids string"
        ),
        "epoch_pos",
        "token_ids",
        shard_size=3,
    ).collect()
    assert alias_row.shard_digest == ref_digest(["null:"])
    assert alias_row.shard_digest != ref_digest([None])

    import pytest

    with pytest.raises(ValueError, match="shard_size"):
        T.loader_shards(df, "epoch_pos", "token_ids", shard_size=0)


def test_pack_sequences_semantics(spark):
    """Fixed-length sequence packing: deterministic bucket + id-order
    concatenation, EOS after EVERY document, consecutive windows, and
    the incomplete tail dropped. Hand-checkable: bucket 0 holds docs
    0 and 2 (ids [1,2] and [5]), stream = 1 2 9 5 9, seq_len 2 ->
    windows [1,2], [9,5]; the lone trailing 9 is dropped. Bucket 1
    holds doc 1 (ids [3,4] -> 3 4 9): windows [3,4]; trailing 9
    dropped."""
    rows = [(0, [1, 2]), (1, [3, 4]), (2, [5])]
    df = spark.createDataFrame(rows, "doc_id long, ids array<int>")
    out = {
        (r.bucket, r.seq_idx): (r.n_tokens, r.token_ids)
        for r in T.pack_sequences(
            df, "doc_id", "ids", seq_len=2, eos_id=9, n_buckets=2
        ).collect()
    }
    assert out == {
        (0, 0): (2, "1 2"),
        (0, 1): (2, "9 5"),
        (1, 0): (2, "3 4"),
    }
    # a bucket with fewer than seq_len tokens emits nothing
    tiny = spark.createDataFrame([(0, [7])], "doc_id long, ids array<int>")
    assert T.pack_sequences(tiny, "doc_id", "ids", seq_len=8, eos_id=9).count() == 0
    # one NULL ids array must not poison its co-bucketed documents:
    # the NULL doc contributes just its EOS (round-7 review fix)
    withnull = spark.createDataFrame(
        [(0, [1, 2, 3]), (2, None)], "doc_id long, ids array<int>"
    )
    got_null = {
        (r.bucket, r.seq_idx): r.token_ids
        for r in T.pack_sequences(
            withnull, "doc_id", "ids", seq_len=3, eos_id=9, n_buckets=1
        ).collect()
    }
    assert got_null == {(0, 0): "1 2 3"}  # stream: 1 2 3 9 | 9 tail
    # end-to-end with real BPE ids: every sequence is exactly seq_len
    merges = [("Ġ", "t"), ("h", "e"), ("Ġt", "he")]
    docs = spark.createDataFrame(
        [(i, f"the text {i} goes on and on here") for i in range(6)],
        "doc_id long, text string",
    )
    ids = docs.select(
        "doc_id", T.gpt2_token_ids("text", merges).alias("ids")
    )
    packed = T.pack_sequences(
        ids, "doc_id", "ids", seq_len=16,
        eos_id=256 + len(merges), n_buckets=2,
    )
    got = packed.collect()
    assert got and all(r.n_tokens == 16 for r in got)
    # conservation: every emitted token id is parseable and the eos
    # separator appears between documents
    eos = str(256 + len(merges))
    assert any(eos in r.token_ids.split(" ") for r in got)

    import pytest

    with pytest.raises(ValueError, match="seq_len"):
        T.pack_sequences(df, "doc_id", "ids", seq_len=0)


def test_epoch_shuffle_deterministic_permutation(spark):
    """The three contract properties of the seeded epoch shuffle:
    (1) output is a PERMUTATION — epoch_pos is exactly 0..n-1 and
    every input row survives unchanged; (2) SAME seed ⇒ bit-identical
    order, independent of the range-partition count (the permutation
    is a pure function of seed and row identity, not of cluster
    layout); (3) DIFFERENT seeds ⇒ decorrelated orders (a keyed hash:
    expected fixed points ≈ 1, nothing like the identity map)."""
    n = 200
    df = spark.createDataFrame(
        [(i % 8, i // 8, f"payload-{i}") for i in range(n)],
        "bucket long, seq_idx long, token_ids string",
    )

    def shuffled(frame, keys, seed, parts):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            return T.epoch_shuffle(frame, keys, seed=seed).collect()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)

    def order(seed, parts):
        rows = shuffled(df, ["bucket", "seq_idx"], seed, parts)
        assert sorted(r.epoch_pos for r in rows) == list(range(n))
        assert {(r.bucket, r.seq_idx, r.token_ids) for r in rows} == {
            (i % 8, i // 8, f"payload-{i}") for i in range(n)
        }
        return {(r.bucket, r.seq_idx): r.epoch_pos for r in rows}

    o42a = order(42, 4)
    o42b = order(42, 13)  # different partition count, same permutation
    assert o42a == o42b
    o7 = order(7, 4)
    assert o7 != o42a
    fixed_points = sum(1 for k, p in o42a.items() if o7[k] == p)
    assert fixed_points < n * 0.1  # keyed hash: expected ≈ 1
    # ...and not a mere rotation/reflection of one another either:
    # positional ranks must look independent (no long common runs)
    seq42 = [k for k, _ in sorted(o42a.items(), key=lambda kv: kv[1])]
    seq7 = [k for k, _ in sorted(o7.items(), key=lambda kv: kv[1])]
    common_adjacent = sum(
        1
        for a, b in zip(seq42, seq42[1:])
        if (a, b) in set(zip(seq7, seq7[1:]))
    )
    assert common_adjacent < n * 0.1

    import pytest

    with pytest.raises(ValueError, match="key_cols"):
        T.epoch_shuffle(df, [], seed=1)
    # reserved-name collisions fail loudly instead of silently
    # corrupting the permutation key / clobbering user data
    with pytest.raises(ValueError, match="__shuffle_key"):
        T.epoch_shuffle(
            df.withColumn("__shuffle_key", F.lit("x")),
            ["bucket"],
            seed=1,
        )
    with pytest.raises(ValueError, match="epoch_pos"):
        T.epoch_shuffle(
            df.withColumn("epoch_pos", F.lit(0)), ["bucket"], seed=1
        )
    # separator aliasing: string keys ('a:b','c') and ('a','b:c')
    # concatenate identically but must NOT share a shuffle key — with
    # per-column hashing their relative order flips with the seed
    # (identical keys would pin one tie-break order at every seed)
    amb = spark.createDataFrame(
        [("a:b", "c", "r1"), ("a", "b:c", "r2"), (None, "c", "r3"),
         ("null", "c", "r4")],
        "k1 string, k2 string, token_ids string",
    )
    orders = set()
    for seed in range(16):
        rows = shuffled(amb, ["k1", "k2"], seed, 2)
        pos = {r.token_ids: r.epoch_pos for r in rows}
        assert sorted(pos.values()) == [0, 1, 2, 3]
        orders.add(pos["r1"] < pos["r2"])
        # NULL key and the literal string "null" are distinct rows
        # with distinct keys — both always present and positioned
        assert pos["r3"] != pos["r4"]
    assert orders == {True, False}
    # empty input: a valid empty permutation, not a crash (the
    # offsets frame is built with an explicit schema for this case)
    empty = df.limit(0)
    assert T.epoch_shuffle(empty, ["bucket", "seq_idx"], seed=1).count() == 0
    assert (
        T.loader_shards(
            empty.withColumnRenamed("bucket", "epoch_pos"),
            "epoch_pos",
            "token_ids",
            shard_size=4,
        ).count()
        == 0
    )


def test_duplicated_spans_exact_matches_reference_property(spark):
    """Property (hypothesis): duplicated_spans_exact agrees with a
    direct pure-Python reference (per-position suffix windows over
    the joined token stream, first-own-char coverage, corpus counts,
    island merge) for arbitrary small corpora and thresholds — the
    windowed-fold SQL algebra IS the naive definition."""
    import re as _re
    from collections import Counter

    from hypothesis import given, settings
    from hypothesis import strategies as st

    def reference(docs, B, min_count):
        rows = []
        for i, text in docs:
            tk = _re.findall("[a-z0-9]+", text.lower())
            offs, off = [], 0
            for w in tk:
                offs.append(off)
                off += len(w) + 1
            joined = " ".join(tk)
            for p in range(len(tk)):
                win = joined[offs[p] : offs[p] + B]
                if len(win) < B:
                    continue
                cov = sum(
                    1 for q in range(p, len(tk)) if offs[q] - offs[p] < B
                )
                rows.append((i, p + 1, p + cov, win))
        cnt = Counter(w for *_, w in rows)
        by_doc: dict[int, list[tuple[int, int]]] = {}
        for i, p, e, w in rows:
            if cnt[w] >= min_count:
                by_doc.setdefault(i, []).append((p, e))
        out = set()
        for i, ps in by_doc.items():
            cur = None
            for p, e in sorted(ps):
                if cur is not None and p <= cur[1] + 1:
                    cur = (cur[0], max(cur[1], e))
                else:
                    if cur is not None:
                        out.add((i, cur[0], cur[1], cur[1] - cur[0] + 1))
                    cur = (p, e)
            if cur is not None:
                out.add((i, cur[0], cur[1], cur[1] - cur[0] + 1))
        return out

    # small alphabet of reusable tokens so duplicates actually occur
    token = st.sampled_from(
        ["a", "bb", "ccc", "dddd", "ee", "f0f0f0", "g", "hh2"]
    )
    doc = st.lists(token, min_size=0, max_size=12).map(" ".join)

    @settings(max_examples=12, deadline=None)
    @given(
        st.lists(doc, min_size=1, max_size=5),
        st.integers(min_value=1, max_value=14),
        st.integers(min_value=2, max_value=3),
    )
    def check(texts, B, min_count):
        docs = list(enumerate(texts))
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r.doc_id, r.span_start, r.span_end, r.span_tokens)
            for r in T.duplicated_spans_exact(
                df, "doc_id", "text", min_bytes=B, min_count=min_count
            ).collect()
        }
        assert got == reference(docs, B, min_count)

    check()


def test_pack_sequences_conservation_property(spark):
    """Property (hypothesis): for arbitrary id arrays, each bucket's
    emitted windows concatenate to exactly the prefix of that
    bucket's reference stream (docs in id order, EOS after each),
    and the emitted token count is floor(len/L)*L per bucket —
    nothing reordered, nothing invented, only the tail dropped."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=10, deadline=None)
    @given(
        st.lists(
            st.lists(
                st.integers(min_value=0, max_value=99),
                min_size=0,
                max_size=7,
            ),
            min_size=1,
            max_size=8,
        ),
        st.integers(min_value=1, max_value=5),
    )
    def check(doc_ids_lists, seq_len):
        rows = [(i, ids) for i, ids in enumerate(doc_ids_lists)]
        df = spark.createDataFrame(rows, "doc_id long, ids array<int>")
        out = T.pack_sequences(
            df, "doc_id", "ids", seq_len=seq_len, eos_id=100, n_buckets=3
        ).collect()
        # reference streams
        streams: dict[int, list[int]] = {}
        for i, ids in rows:
            streams.setdefault(i % 3, []).extend(list(ids) + [100])
        got: dict[int, dict[int, list[int]]] = {}
        for r in out:
            assert r.n_tokens == seq_len
            got.setdefault(r.bucket, {})[r.seq_idx] = [
                int(x) for x in r.token_ids.split(" ")
            ]
        for b, stream in streams.items():
            n = (len(stream) // seq_len) * seq_len
            winds = got.get(b, {})
            flat = [
                x for i in sorted(winds) for x in winds[i]
            ]
            assert flat == stream[:n], (b, flat, stream)
            assert sorted(winds) == list(range(len(winds)))

    check()


def test_lang_id_train_classify_roundtrip(spark):
    """Train → classify closes in-engine: weights learned from the
    26-language fixture feed straight back into lang_id_ngram and
    classify every snippet correctly. Also pins the trainer's
    semantics: the share bar drops corpus-wide grams (padding
    spaces / shared digits never surface), exclusive grams weigh 3,
    and each label learns at most top_k grams."""
    from mongodb_etl_migration_spark.queries import _LANG_SNIPPETS_EXT

    langs = sorted(_LANG_SNIPPETS_EXT)
    # several labeled copies per language so min_count=2 is met
    rows = [
        (lang, _LANG_SNIPPETS_EXT[lang] + f" {n}")
        for lang in langs
        for n in range(3)
    ]
    labeled = spark.createDataFrame(rows, "label string, text string")
    learned = T.lang_id_train(labeled, "label", "text", top_k=8).collect()
    per_label: dict[str, list] = {}
    weights: dict[str, dict[str, int]] = {}
    for r in learned:
        per_label.setdefault(r.label, []).append(r)
        weights.setdefault(r.gram, {})[r.label] = r.weight
        assert r.weight in (2, 3)
        assert r.weight != 3 or r.cnt_lg == r.cnt_g  # 3 = exclusive
        assert r.cnt_lg * 100 >= r.cnt_g * 90  # the share bar held
        assert " " != r.gram  # padding space filtered by the bar
    assert set(per_label) == set(langs)
    assert all(len(v) <= 8 for v in per_label.values())
    # digits ride every label's docs -> never concentrated -> absent
    assert not any(g.strip().isdigit() for g in weights)

    # round-trip: the learned relation classifies its own snippets
    docs = spark.createDataFrame(
        [(i, _LANG_SNIPPETS_EXT[lang]) for i, lang in enumerate(langs)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: r.lang_pred
        for r in T.lang_id_ngram(
            docs, "doc_id", "text", weights=weights
        ).collect()
    }
    for i, lang in enumerate(langs):
        assert got[i] == lang, (lang, got[i])


def test_quality_feedback_tier_boundaries(spark):
    """The crawl-tier cut points, pinned at their exact edges via the
    catalog query's own building blocks: milli-average >= 500 is
    'boost', >= 0 'normal', below 'demote' — including the negative-
    average floor (floor(-1500/2) = -750, never truncation toward
    zero) and a NULL registered domain (host IS a public suffix)
    dropping out of the rollup entirely."""
    from mongodb_etl_migration_spark.queries import QUERIES

    df = QUERIES["w_quality_feedback"](spark, "/root/testdata/sf0.001")
    rows = df.collect()
    assert rows, "rollup must produce domains at sf0.001"
    for r in rows:
        assert r.registered_domain is not None
        assert r.n_docs >= 1 and r.n_keep <= r.n_docs
        # milli-average is exactly floor(1000 * margin_sum / n_docs)
        import math

        assert r.avg_margin_milli == math.floor(
            r.margin_sum * 1000 / r.n_docs
        )
        want = (
            "boost"
            if r.avg_margin_milli >= 500
            else "normal" if r.avg_margin_milli >= 0 else "demote"
        )
        assert r.crawl_tier == want
    # the fixture's margin spread must actually exercise >1 tier
    assert len({r.crawl_tier for r in rows}) >= 2


def test_milli_floor_exactness_adversarial(spark):
    """The shipped milli-average expression (queries.milli_floor) is
    UNCONDITIONALLY integer-exact — pinned at the two places the old
    floor(double) formula broke: (a) negative sums where truncating
    `div` differs from floor (-7000/3: floor -2334, truncate -2333),
    and (b) |sum|*1000 beyond 2^53 where a double mantissa cannot
    hold the product (9_007_199_254_740_993 is the first bigint a
    double rounds; ±9e15 sums put the x1000 product near 9e18,
    ~1000x past the mantissa). Expected values are Python's
    arbitrary-precision floor division."""
    from mongodb_etl_migration_spark.queries import milli_floor

    cases = [
        (-7, 3),                       # floor -2334, truncate -2333
        (-1, 7),                       # floor -143, truncate -142
        (7, 3),                        # positive control 2333
        (-6, 2),                       # exact division, no fixup
        (9_007_199_254_740_993, 7),    # sum itself un-double-able
        (-9_007_199_254_740_993, 7),
        (9_000_000_000_000_000, 11),   # product ~9e18 >> 2^53
        (-9_000_000_000_000_000, 11),
        (0, 5),
    ]
    df = spark.createDataFrame(cases, "margin_sum bigint, n_docs bigint")
    got = {
        (r.margin_sum, r.n_docs): r.milli
        for r in df.withColumn(
            "milli", milli_floor("margin_sum", "n_docs")
        ).collect()
    }
    for s, n in cases:
        assert got[(s, n)] == (s * 1000) // n, (s, n, got[(s, n)])
    # and at least one case genuinely splits floor from truncation
    assert any((s * 1000) // n != -((-s * 1000) // n) for s, n in cases
               if s < 0 and (s * 1000) % n)


def test_corpus_diversity_ttr_exact(spark):
    """Type-token ratio semantics on a hand-computable corpus: types
    and tokens counted per domain after tokenization, TTR = floor of
    the 1e5-scaled ratio; token-less documents vanish from the
    report (nothing to measure, same convention both engines)."""
    from mongodb_etl_migration_spark.operators import text as T2

    df = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),   # grp a: 6 tokens, 5 types
            (1, "the cat ran"),              # grp a: 3 tokens (+1 type)
            (2, "?!"),                       # grp b: tokenizes empty
        ],
        "doc_id long, text string",
    )
    d = df.select(
        "doc_id",
        F.when(F.col("doc_id") < 2, "a").otherwise("b").alias("grp"),
        F.explode(T2.tokens("text")).alias("term"),
    )
    g = (
        d.groupBy("grp")
        .agg(
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_tokens"),
            F.countDistinct("term").cast("bigint").alias("n_types"),
        )
        .collect()
    )
    out = {r.grp: (r.n_docs, r.n_tokens, r.n_types) for r in g}
    # a: tokens = 9, types = {the,cat,sat,on,mat,ran} = 6
    assert out == {"a": (2, 9, 6)}
    assert 6 * 100000 // 9 == 66666  # the floor the query publishes


def test_bpe_batched_selection_rejects_output_equal_to_earlier_input():
    """r10 code-review fixture: candidate 2's output 'bc' is candidate
    1's INPUT symbol — accepting both lets the combined scan merge
    ['b','c','x'] -> ['bcx'] while the chained per-pair replaces give
    ['bc','x']. The selector must end the batch before candidate 2,
    and the combined application must then equal the chain."""
    cands = [("bc", "x", 1000), ("b", "c", 5)]
    batch = T._select_compatible_batch(
        cands, {("bc", "x"): 0}, collide={("b", "c")}, min_count=2, tri3={}
    )
    assert batch == [("bc", "x", 1000)]
    # and the combined scan on the SAFE batch matches the chain
    parts = ["b", "c", "x"]
    combined = _apply_merge_batch(parts, [(l, r) for l, r, _ in batch])
    chained = parts
    for l, r, _ in batch:
        chained = T._apply_pair_passes(chained, l, r)
    assert combined == chained == ["b", "c", "x"]


def test_epoch_shuffle_rejects_internal_pos_col(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1,)], "doc_id long")
    with _pytest.raises(ValueError, match="__shuffle_key"):
        T.epoch_shuffle(df, ["doc_id"], seed=1, pos_col="__shuffle_key")


def test_span_corruption_semantics_and_reconstruction(spark):
    import re as _re

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = {
        r["doc_id"]: r
        for r in T.span_corruption(docs, span_len=3, period=20).collect()
    }
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert set(out) == set(src)
    checked = 0
    for i, text in src.items():
        words = _re.findall("[a-z0-9]+", text.lower())
        r = out[i]
        # splice each target span back over its sentinel
        tgt = {}
        for m in _re.finditer(
            r"<extra_id_(\d+)>((?:(?!<extra_id_)\S|\s)*)", r["targets"]
        ):
            tgt[int(m.group(1))] = m.group(2).split()
        rebuilt = []
        for tok in r["corrupted"].split():
            m = _re.fullmatch(r"<extra_id_(\d+)>", tok)
            if m:
                rebuilt.extend(tgt.get(int(m.group(1)), []))
            else:
                rebuilt.append(tok)
        # sentinel spans are PREPENDED per block, so rebuilt tokens come
        # back in original order
        assert rebuilt == words, f"doc {i} failed reconstruction"
        assert r["n_spans"] == -(-len(words) // 20)
        assert r["n_masked"] == sum(
            min(3, max(0, len(words) - b * 20)) for b in range(r["n_spans"])
        )
        checked += 1
    assert checked >= 100


def test_span_corruption_short_and_empty_docs(spark):
    df = spark.createDataFrame(
        [(1, "a b"), (2, ""), (3, "   "), (4, "w1 w2 w3 w4 w5")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in T.span_corruption(df, span_len=3, period=20).collect()}
    # 2-token doc: whole doc masked, corrupted = bare sentinel
    assert out[1]["corrupted"] == "<extra_id_0>"
    assert out[1]["targets"] == "<extra_id_0> a b"
    assert out[1]["n_spans"] == 1 and out[1]["n_masked"] == 2
    # empty/whitespace: empty surfaces, zero counts
    for i in (2, 3):
        assert out[i]["corrupted"] == "" and out[i]["targets"] == ""
        assert out[i]["n_spans"] == 0 and out[i]["n_masked"] == 0
    # 5-token doc: first 3 masked, 2 visible
    assert out[4]["corrupted"] == "<extra_id_0> w4 w5"
    assert out[4]["targets"] == "<extra_id_0> w1 w2 w3"


def test_span_corruption_rejects_bad_params(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        T.span_corruption(df, span_len=5, period=5)
    with _pytest.raises(ValueError):
        T.span_corruption(df, span_len=0, period=5)


def test_fim_transform_partition_property_and_orders(spark):
    import re as _re

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = {r["doc_id"]: r for r in T.fim_transform(docs).collect()}
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    for i, text in src.items():
        words = _re.findall("[a-z0-9]+", text.lower())
        r = out[i]
        m = _re.fullmatch(
            r"<fim_prefix>(.*)<fim_suffix>(.*)<fim_middle>(.*)",
            r["fim"],
            _re.DOTALL,
        )
        assert m, r["fim"]
        p, s, mid = (g.split() if g else [] for g in m.groups())
        assert p + mid + s == words  # partition property
        assert (len(p), len(mid), len(s)) == (
            r["n_prefix"], r["n_middle"], r["n_suffix"],
        )
        assert len(p) == len(words) * 400 // 1000
    # SPM order
    row = T.fim_transform(
        spark.createDataFrame([(1, "a b c d e f g h i j")], "doc_id long, text string"),
        spm=True,
    ).collect()[0]
    assert row["fim"].startswith("<fim_suffix>")
    assert "<fim_prefix>" in row["fim"] and row["fim"].count("<fim_middle>") == 1


def test_fim_transform_short_docs_and_guards(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [(1, "x"), (2, ""), (3, "a b")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in T.fim_transform(df).collect()}
    # 1 token: p=0, m=0 -> everything in suffix
    assert out[1]["fim"] == "<fim_prefix><fim_suffix>x<fim_middle>"
    assert (out[1]["n_prefix"], out[1]["n_middle"], out[1]["n_suffix"]) == (0, 0, 1)
    assert out[2]["fim"] == "<fim_prefix><fim_suffix><fim_middle>"
    with _pytest.raises(ValueError):
        T.fim_transform(df, prefix_milli=800, middle_milli=300)


def test_span_corruption_seeded_reconstruction_and_diversity(spark):
    """seeded=True must preserve the reconstruction invariant (splice
    each target span over its sentinel -> original tokens) while
    actually moving the mask around: offsets vary across (doc, block)
    — the whole point of seeding away from 'first tokens of every
    block' — and the exact span_len/period rate is unchanged."""
    import re as _re

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = {
        r["doc_id"]: r
        for r in T.span_corruption(
            docs, span_len=3, period=20, seeded=True
        ).collect()
    }
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    assert set(out) == set(src)
    n_midblock = 0
    checked = 0
    for i, text in src.items():
        words = _re.findall("[a-z0-9]+", text.lower())
        r = out[i]
        tgt = {}
        for m in _re.finditer(
            r"<extra_id_(\d+)>((?:(?!<extra_id_)\S|\s)*)", r["targets"]
        ):
            tgt[int(m.group(1))] = m.group(2).split()
        rebuilt = []
        for tok in r["corrupted"].split():
            m = _re.fullmatch(r"<extra_id_(\d+)>", tok)
            if m:
                rebuilt.extend(tgt.get(int(m.group(1)), []))
            else:
                rebuilt.append(tok)
        assert rebuilt == words, f"doc {i} failed seeded reconstruction"
        assert r["n_spans"] == -(-len(words) // 20)
        assert r["n_masked"] == sum(
            min(3, max(0, len(words) - b * 20)) for b in range(r["n_spans"])
        )
        # a sentinel NOT at a block start means the offset moved
        ctoks = r["corrupted"].split()
        pos = 0
        for tok in ctoks:
            if _re.fullmatch(r"<extra_id_\d+>", tok):
                if pos % 20 != 0:
                    n_midblock += 1
            else:
                pos += 1
        checked += 1
    assert checked >= 100
    # overwhelmingly likely: offsets land mid-block somewhere
    assert n_midblock > checked  # avg > 1 moved sentinel per doc


def test_fim_transform_seeded_partition_and_diversity(spark):
    """seeded=True: prefix ++ middle ++ suffix still partitions the
    token stream; boundary draws differ across documents (not the
    fixed 40/30/30 split); counts are consistent and within [0, n]."""
    import re as _re

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = {
        r["doc_id"]: r
        for r in T.fim_transform(docs, seeded=True).collect()
    }
    src = {r["doc_id"]: r["text"] for r in docs.collect()}
    fracs = set()
    for i, text in src.items():
        words = _re.findall("[a-z0-9]+", text.lower())
        r = out[i]
        m = _re.fullmatch(
            r"<fim_prefix>(.*)<fim_suffix>(.*)<fim_middle>(.*)",
            r["fim"],
            _re.S,
        )
        assert m, r["fim"]
        p, s, mid = (g.split() for g in m.groups())
        assert p + mid + s == words, f"doc {i} failed seeded partition"
        n = len(words)
        assert r["n_prefix"] == len(p) and r["n_middle"] == len(mid)
        assert r["n_suffix"] == len(s) == n - len(p) - len(mid)
        if n:
            fracs.add((r["n_prefix"] * 100 // n, r["n_middle"] * 100 // n))
    # per-doc draws: many distinct (prefix%, middle%) splits, not one
    assert len(fracs) > 20


def test_fim_transform_seeded_ignores_milli_params(spark):
    df = spark.createDataFrame(
        [(7, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    a = T.fim_transform(df, seeded=True).collect()[0]
    b = T.fim_transform(
        df, prefix_milli=900, middle_milli=50, seeded=True
    ).collect()[0]
    assert a == b


def test_bpe_incremental_equals_sequential_property():
    """Randomized trajectory equality for the DELTA-MAINTENANCE
    trainer: bpe_train_incremental_reference == bpe_train_reference
    on hundreds of random small corpora over a 3-letter alphabet
    (runs, ties, conflations are the norm there), across min_counts —
    the lazy heap + per-word count deltas must walk the exact
    recount-everything argmax order, including the multi-pass
    replace semantics feeding the counts."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    corpora = st.dictionaries(
        st.text(alphabet="ab3", min_size=1, max_size=7),
        st.integers(min_value=1, max_value=12),
        min_size=1,
        max_size=8,
    )

    @settings(max_examples=300, deadline=None)
    @given(wc=corpora, mc=st.sampled_from([1, 2, 3]))
    def check(wc, mc):
        ref = bpe_train_reference(wc, 12, min_count=mc)
        got, _ = T.bpe_train_incremental_reference(wc, 12, min_count=mc)
        assert got == ref, (wc, mc)

    check()


def test_bpe_incremental_final_vocab_matches_replay():
    """The trainer's returned symbolization equals replaying its own
    merge list through the engine's replace chain — the audit
    surface bpe_train's vocab_df is built from."""
    wc = {"abab": 3, "aaa": 5, "ababab": 2, "cdcd": 4, "x": 1}
    merges, syms = T.bpe_train_incremental_reference(wc, 10, min_count=2)
    cur = {w: " " + " ".join(w) + " " for w in wc}
    for a, b, _ in merges:
        pat, rep = f" {a} {b} ", f" {a}{b} "
        cur = {w: _replace_passes(s, pat, rep) for w, s in cur.items()}
    assert cur == syms


def test_bpe_train_modes_agree_and_driver_bound_refuses(spark):
    """bpe_train mode wiring: auto / driver / distributed produce the
    SAME merges and the same audit vocabulary on the same corpus;
    driver mode refuses loudly (no silent collect) when the
    vocabulary exceeds driver_vocab_max; auto falls back to the
    distributed rounds in that case; stats report the engine used."""
    import pytest

    rows = [
        (1, "xab xab xab xab ab ab cd cd cd"),
        (2, "axy axy axy xy mn mn mn"),
        (3, "zab zab ab aab aaa aaa"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {}
    for mode in ("auto", "driver", "distributed"):
        st: dict = {}
        merges, vocab = T.bpe_train(
            df, "text", n_merges=10, min_count=2, stats=st, mode=mode
        )
        out[mode] = (merges, sorted(map(tuple, vocab.collect())), st)
    assert out["auto"][0] == out["driver"][0] == out["distributed"][0]
    assert out["auto"][1] == out["driver"][1] == out["distributed"][1]
    assert out["auto"][2]["mode"] == "driver"  # tiny vocab -> collected
    assert out["driver"][2]["rounds"] == 0
    assert out["driver"][2]["touched_symbols"] > 0
    assert out["distributed"][2]["mode"] == "distributed"
    assert out["distributed"][2]["rounds"] >= 1
    with pytest.raises(ValueError, match="driver_vocab_max"):
        T.bpe_train(
            df, "text", n_merges=4, mode="driver", driver_vocab_max=3
        )
    st2: dict = {}
    m_auto, _ = T.bpe_train(
        df, "text", n_merges=10, min_count=2, stats=st2,
        mode="auto", driver_vocab_max=3,
    )
    assert st2["mode"] == "distributed"
    assert m_auto == out["driver"][0]
    with pytest.raises(ValueError, match="unknown bpe_train mode"):
        T.bpe_train(df, "text", mode="turbo")


def test_pack_sequences_bestfit_matches_bfd_reference(spark):
    """The Spark fold IS best-fit-decreasing: placement equals a
    driver-side BFD loop (size desc, best = min remaining >= size,
    tie lowest bin index) item-for-item, including the >seq_len
    chunking, NULL/empty docs, and the never-split property."""
    rows = [
        (0, [1] * 50),
        (16, [2] * 30),
        (32, [3] * 20),
        (48, [4] * 9),
        (64, [5] * 2),
        (80, []),
        (96, None),
        (112, [6] * 130),  # chunks 64, 64, 3
        (7, [7] * 40),     # a second bucket
        (23, [8] * 23),
    ]
    L, EOS, NB = 64, 0, 16
    df = spark.createDataFrame(rows, "doc_id long, tid array<int>")
    out = T.pack_sequences_bestfit(
        df, "doc_id", "tid", seq_len=L, eos_id=EOS, n_buckets=NB
    ).collect()

    def ref():
        buckets: dict[int, list] = {}
        for d, tid in rows:
            s = (tid or []) + [EOS]
            for c in range((len(s) + L - 1) // L):
                t = s[c * L : (c + 1) * L]
                buckets.setdefault(d % NB, []).append((-len(t), d, c, t))
        exp = []
        for bkt, items in buckets.items():
            items.sort(key=lambda x: x[:3])
            bins: list = []
            for szneg, d, c, t in items:
                sz = -szneg
                cand = [(b[0], j) for j, b in enumerate(bins) if b[0] >= sz]
                if not cand:
                    bins.append([L - sz, [t]])
                else:
                    _, j = min(cand)
                    bins[j][0] -= sz
                    bins[j][1].append(t)
            for j, b in enumerate(bins):
                toks = [x for t in b[1] for x in t]
                exp.append(
                    (bkt, j, len(toks), len(toks) * 1000 // L,
                     " ".join(map(str, toks)))
                )
        return sorted(exp)

    got = sorted(
        (r.bucket, r.bin_idx, r.n_tokens, r.fill_milli, r.token_ids)
        for r in out
    )
    assert got == ref()
    # never-split: every bin's content is a concatenation of whole
    # chunks; fill never exceeds the bin
    assert all(r.n_tokens <= L for r in out)


def test_pack_bestfit_fewer_truncations_than_concat(spark):
    """The packing-quality claim the operator exists for, on the real
    catalog fixture: (1) best-fit DROPS NOTHING (total packed tokens
    == corpus tokens) while the concat packer loses every bucket's
    tail; (2) no document below seq_len is ever split across bins,
    while the concat packer splits at every window boundary it
    straddles."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    from pyspark.sql import functions as F

    ids = docs.select(
        "doc_id",
        F.transform(
            T.tokens("text"), lambda t: F.length(t).cast("int")
        ).alias("tid"),
    )
    total = ids.select(
        F.sum(F.size("tid") + 1).cast("bigint").alias("n")
    ).collect()[0]["n"]
    bf = T.pack_sequences_bestfit(
        ids, "doc_id", "tid", seq_len=64, eos_id=0, n_buckets=16
    )
    cc = T.pack_sequences(
        ids, "doc_id", "tid", seq_len=64, eos_id=0, n_buckets=16
    )
    bf_tokens = bf.agg(F.sum("n_tokens")).collect()[0][0]
    cc_tokens = cc.agg(F.sum("n_tokens")).collect()[0][0]
    assert bf_tokens == total            # nothing dropped
    assert cc_tokens < total             # concat drops bucket tails


def test_pack_bestfit_invariant_across_bucket_counts(spark):
    """The packing INVARIANTS — every token packed exactly once, no
    drops, bins <= seq_len — hold at every bucket count, so
    n_buckets is purely a latency knob."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ids = docs.select(
        "doc_id",
        F.transform(
            T.tokens("text"), lambda t: F.length(t).cast("int")
        ).alias("tid"),
    ).localCheckpoint()
    L = 64
    chunks = int(
        ids.agg(
            F.sum(F.ceil((F.size("tid") + 1) / F.lit(L))).cast("bigint")
        ).collect()[0][0]
    )
    got = -(-chunks // 50)  # ~50 chunks per bucket

    total = int(
        ids.agg(F.sum(F.size("tid") + 1).cast("bigint")).collect()[0][0]
    )
    token_multiset = None
    for nb in (1, 7, got):
        bf = T.pack_sequences_bestfit(
            ids, "doc_id", "tid", seq_len=L, eos_id=0, n_buckets=nb
        )
        rows = bf.collect()
        assert all(r.n_tokens <= L for r in rows)
        assert sum(r.n_tokens for r in rows) == total  # drop 0
        ms: dict[str, int] = {}
        for r in rows:
            for t in r.token_ids.split(" "):
                ms[t] = ms.get(t, 0) + 1
        if token_multiset is None:
            token_multiset = ms
        else:
            assert ms == token_multiset  # bucket count never changes WHAT is packed


def test_bpe_train_distributed_delta_grams_stay_exact(spark):
    """The round-12 delta-maintained gram frame cannot drift: train
    mode='distributed' over a fixture engineered to exercise every
    delta case — created pairs (merges mint new adjacencies),
    destroyed pairs, an output-collision round boundary, and words a
    round never touches — then verify the TRAJECTORY equals the
    sequential reference AND the returned vocabulary equals a
    from-scratch replay (if a maintained count drifted even once, the
    argmax order diverges and one of these breaks)."""
    rows = [
        (1, "abab abab abab"),
        (2, "aab ab b ba"),
        (3, "zzzz zz zzz"),
        (4, "qx qx qx qx qx"),
        (5, "untouched words here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    st: dict = {}
    merges, vocab = T.bpe_train(
        df, "text", n_merges=12, min_count=2, batch_cap=4,
        mode="distributed", stats=st,
    )
    # sequential twin on the identical word counts
    import re

    wc: dict[str, int] = {}
    for _, t in rows:
        for w in re.findall("[a-z0-9]+", t.lower()):
            wc[w] = wc.get(w, 0) + 1
    ref = bpe_train_reference(wc, n_merges=12, min_count=2)
    assert merges == ref
    # final vocabulary equals a rank-order replay from scratch
    flat = [(a, b) for a, b, _ in merges]
    got = {r["w"]: r["sym"] for r in vocab.collect()}
    for w in wc:
        parts = list(w)
        for a, b in flat:
            parts = T._apply_pair_passes(parts, a, b)
        assert got[w] == " " + " ".join(parts) + " ", w
    assert st["rounds"] >= 2  # the fixture actually spans rounds
