"""URL analysis operators for web-corpus curation.

Beyond-reference extensions: web-crawl corpora (Common-Crawl-style)
key most curation decisions off the URL — canonical-URL dedup, domain
allow/block lists, per-domain caps. These operators keep the whole
family as pure Column expressions (regexp + string builtins, no UDF,
zero shuffle for the per-row forms) with semantics simple enough to
mirror exactly in the DuckDB oracle.

Parsing here is deliberately regex-based rather than Spark's
``parse_url``: parse_url's Java URI edge-case behavior (missing
components, encoding) cannot be reproduced in another engine, and
hash-exact verification is the house rule. The regexes cover the
well-formed http(s) URL shape a crawler emits; a production pipeline
would layer stricter RFC 3986 handling behind the same contract.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from mongodb_etl_migration_spark.operators.denorm import top1_per_group

# One capture group per component, anchored; query/fragment optional.
_SCHEME_RE = "^([a-zA-Z][a-zA-Z0-9+.-]*)://"
_HOST_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]+)"
_PATH_RE = "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+([^?#]*)"
_QUERY_RE = "\\?([^#]*)"


def _c(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def url_scheme(c: Column | str) -> Column:
    return F.lower(F.nullif(F.regexp_extract(_c(c), _SCHEME_RE, 1), F.lit("")))


def url_host(c: Column | str) -> Column:
    """Lowercased host with the SCHEME'S default port dropped (:80 for
    http, :443 for https). A non-default port — including
    http://host:443 — is kept: it names a distinct origin and must not
    dedup with the portless URL."""
    x = _c(c)
    host = F.lower(F.regexp_extract(x, _HOST_RE, 1))
    scheme = url_scheme(x)
    host = (
        F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .otherwise(host)
    )
    return F.nullif(host, F.lit(""))


def url_path(c: Column | str) -> Column:
    """Path component (case preserved — paths are case-sensitive),
    trailing slash stripped, '' → '/'."""
    path = F.regexp_extract(_c(c), _PATH_RE, 1)
    path = F.regexp_replace(path, "/+$", "")
    return F.when(path == "", F.lit("/")).otherwise(path)


def url_query(c: Column | str) -> Column:
    return F.nullif(F.regexp_extract(_c(c), _QUERY_RE, 1), F.lit(""))


def path_depth_of(path: Column) -> Column:
    """Number of non-empty segments of an already-extracted path
    column ('/a/b/' → 2, '/' → 0)."""
    return F.size(F.filter(F.split(path, "/"), lambda s: s != ""))


def registered_domain(c: Column | str) -> Column:
    """Heuristic eTLD+1: the last two labels of the host (www.a.com →
    a.com) — the zero-join per-row form. Wrong for multi-label public
    suffixes (b.co.uk groups as co.uk); use ``with_registered_domain``
    (the PSL broadcast join) when those matter — per-domain caps over
    a real crawl do. A non-default port (kept in url_host) is stripped
    first so it never leaks into the domain."""
    return domain_of(url_host(c))


# Trimmed public-suffix table: multi-label PLAIN entries only — a
# one-label TLD (com, org, de, ...) reduces to the 2-label fallback,
# so only suffixes with 2+ labels need rows. Representative subset of
# the Mozilla Public Suffix List (publicsuffix.org): ccTLD second-
# level registries plus the most common private-section hosts. The
# full ~9k-entry list drops in without changing the join shape.
# Wildcard (*.ck) and exception (!www.ck) rule classes live in
# PSL_EXTRA_DAT below, parsed from the list's own file format.
PUBLIC_SUFFIXES: tuple[str, ...] = (
    # .uk / .nz / .au / .za / .in / .il / .id
    "co.uk", "org.uk", "me.uk", "ltd.uk", "plc.uk", "net.uk", "ac.uk",
    "gov.uk", "sch.uk", "nhs.uk", "police.uk",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    "gen.nz", "geek.nz", "maori.nz", "iwi.nz",
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "act.edu.au", "nsw.edu.au", "nt.edu.au", "qld.edu.au", "sa.edu.au",
    "tas.edu.au", "vic.edu.au", "wa.edu.au",
    "co.za", "net.za", "org.za", "gov.za", "edu.za", "ac.za", "web.za",
    "co.in", "net.in", "org.in", "firm.in", "gen.in", "ind.in", "ac.in",
    "edu.in", "res.in", "gov.in", "mil.in", "nic.in",
    "co.il", "net.il", "org.il", "gov.il", "ac.il", "muni.il", "idf.il",
    "co.id", "net.id", "or.id", "web.id", "sch.id", "ac.id", "go.id",
    "mil.id", "biz.id", "my.id", "desa.id", "ponpes.id",
    # .jp / .kr / .cn / .tw / .hk / .sg / .my / .th / .vn / .ph
    "co.jp", "ne.jp", "or.jp", "ac.jp", "ad.jp", "ed.jp", "go.jp",
    "gr.jp", "lg.jp", "kyoto.jp", "ide.kyoto.jp",
    # .us state registries (the publicsuffix.org test-vector shapes)
    "ak.us", "k12.ak.us", "cc.ak.us", "lib.ak.us",
    "co.kr", "ne.kr", "or.kr", "re.kr", "pe.kr", "go.kr", "mil.kr",
    "ac.kr", "hs.kr", "ms.kr", "es.kr", "sc.kr", "kg.kr", "seoul.kr",
    "busan.kr",
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn", "mil.cn",
    "com.tw", "net.tw", "org.tw", "gov.tw", "edu.tw", "mil.tw",
    "idv.tw", "game.tw", "ebiz.tw", "club.tw",
    "com.hk", "net.hk", "org.hk", "gov.hk", "edu.hk", "idv.hk",
    "com.sg", "net.sg", "org.sg", "gov.sg", "edu.sg", "per.sg",
    "com.my", "net.my", "org.my", "gov.my", "edu.my", "mil.my",
    "name.my",
    "co.th", "net.th", "or.th", "go.th", "ac.th", "in.th", "mi.th",
    "com.vn", "net.vn", "org.vn", "gov.vn", "edu.vn", "int.vn",
    "ac.vn", "biz.vn", "info.vn", "name.vn", "pro.vn", "health.vn",
    "com.ph", "net.ph", "org.ph", "gov.ph", "edu.ph", "ngo.ph",
    "mil.ph", "i.ph",
    # Americas
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "mil.br",
    "art.br", "blog.br", "eco.br", "wiki.br",
    "com.mx", "net.mx", "org.mx", "gob.mx", "edu.mx",
    "com.ar", "net.ar", "org.ar", "gob.ar", "edu.ar", "int.ar",
    "mil.ar", "musica.ar", "tur.ar",
    "com.co", "net.co", "org.co", "gov.co", "edu.co", "mil.co",
    "nom.co",
    "com.ve", "net.ve", "org.ve", "gob.ve", "edu.ve", "mil.ve",
    "int.ve", "co.ve", "e12.ve", "info.ve", "web.ve",
    "com.pe", "net.pe", "org.pe", "gob.pe", "edu.pe", "mil.pe",
    "nom.pe", "sld.pe",
    "com.ec", "net.ec", "org.ec", "gob.ec", "edu.ec", "mil.ec",
    "fin.ec", "med.ec", "pro.ec", "info.ec", "k12.ec",
    "com.uy", "net.uy", "org.uy", "gub.uy", "edu.uy", "mil.uy",
    # Europe / Middle East / Africa
    "com.tr", "net.tr", "org.tr", "gov.tr", "edu.tr", "mil.tr",
    "bbs.tr", "av.tr", "dr.tr", "pol.tr", "bel.tr", "k12.tr",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "info.pl",
    "waw.pl", "wroc.pl", "krakow.pl", "poznan.pl", "gda.pl",
    "com.gr", "net.gr", "org.gr", "edu.gr", "gov.gr",
    "com.pt", "net.pt", "org.pt", "edu.pt", "gov.pt", "int.pt",
    "publ.pt", "nome.pt",
    "com.ro", "org.ro", "tm.ro", "nt.ro", "nom.ro", "info.ro",
    "rec.ro", "arts.ro", "firm.ro", "store.ro", "www.ro",
    "com.ru", "net.ru", "org.ru", "pp.ru", "msk.ru", "spb.ru",
    "com.ua", "net.ua", "org.ua", "gov.ua", "edu.ua", "in.ua",
    "kiev.ua", "lviv.ua", "odessa.ua",
    "com.eg", "net.eg", "org.eg", "gov.eg", "edu.eg", "sci.eg",
    "eun.eg", "mil.eg", "name.eg",
    "com.sa", "net.sa", "org.sa", "gov.sa", "edu.sa", "med.sa",
    "pub.sa", "sch.sa",
    "com.ng", "net.ng", "org.ng", "gov.ng", "edu.ng", "name.ng",
    "sch.ng", "mobi.ng", "i.ng",
    "co.ke", "ne.ke", "or.ke", "go.ke", "ac.ke", "sc.ke", "me.ke",
    "mobi.ke", "info.ke",
    "com.gh", "edu.gh", "gov.gh", "org.gh", "mil.gh",
    "com.pk", "net.pk", "org.pk", "gov.pk", "edu.pk", "fam.pk",
    "biz.pk", "web.pk", "gok.pk", "gop.pk",
    # private-section entries a crawl actually hits
    "github.io", "gitlab.io", "blogspot.com", "wordpress.com",
    "herokuapp.com", "appspot.com", "firebaseapp.com", "web.app",
    "netlify.app", "vercel.app", "pages.dev", "workers.dev",
    "s3.amazonaws.com", "cloudfront.net", "azurewebsites.net",
    "cloudapp.net", "fastly.net", "fly.dev", "onrender.com",
    "readthedocs.io", "substack.com", "medium.com", "tumblr.com",
    "neocities.org", "repl.co", "glitch.me", "surge.sh",
)


# The PSL's OTHER two rule classes, in the list's own file format
# (publicsuffix.org/list/public_suffix_list.dat): wildcard rules
# (`*.ck` — ANY single label under .ck is itself a public suffix) and
# exception rules (`!www.ck` — carve-outs that ARE registrable despite
# a matching wildcard). These are the real wildcard/exception entries
# from the public list (ICANN section); the full file drops into
# parse_psl unchanged.
PSL_EXTRA_DAT = """\
// Public Suffix List excerpt — wildcard and exception rule classes
// (format per https://publicsuffix.org/list/)

// bd : Bangladesh
*.bd

// ck : Cook Islands
*.ck
!www.ck

// er : Eritrea
*.er

// fk : Falkland Islands
*.fk

// mm : Myanmar
*.mm

// jp : Japan — city-domain wildcards with city-government exceptions
*.kawasaki.jp
*.kitakyushu.jp
*.kobe.jp
*.nagoya.jp
*.sapporo.jp
*.sendai.jp
*.yokohama.jp
!city.kawasaki.jp
!city.kitakyushu.jp
!city.kobe.jp
!city.nagoya.jp
!city.sapporo.jp
!city.sendai.jp
!city.yokohama.jp
"""


def parse_psl(
    text: str,
) -> dict[str, tuple[str, ...]]:
    """Parse public_suffix_list.dat content into the three PSL rule
    classes: ``plain`` suffix rules, ``wildcard`` rules (stored as
    their base — ``*.ck`` → ``ck``), and ``exception`` rules
    (``!www.ck`` → ``www.ck``). Per the list's format spec: ``//``
    lines are comments, blank lines are ignored, a rule is the line
    up to the first whitespace, rules are case-insensitive
    (lowercased here), and ``*`` may only stand as a whole leftmost
    label — anything else is rejected loudly rather than silently
    mis-grouping domains."""
    plain: list[str] = []
    wildcard: list[str] = []
    exception: list[str] = []
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("//"):
            continue
        rule = line.split()[0].lower()
        if rule.startswith("!"):
            exception.append(rule[1:])
        elif rule.startswith("*."):
            base = rule[2:]
            if "*" in base or not base:
                raise ValueError(f"unsupported PSL wildcard rule: {rule!r}")
            wildcard.append(base)
        elif "*" in rule:
            raise ValueError(f"unsupported PSL wildcard rule: {rule!r}")
        else:
            plain.append(rule)
    return {
        "plain": tuple(plain),
        "wildcard": tuple(wildcard),
        "exception": tuple(exception),
    }


def excerpt_psl_rules() -> dict[str, tuple[str, ...]]:
    """The trimmed built-in rule set (plain-suffix excerpt table plus
    the real wildcard/exception entries) — kept as the fallback when
    the vendored snapshot is absent and as a small test fixture."""
    extra = parse_psl(PSL_EXTRA_DAT)
    return {
        "plain": PUBLIC_SUFFIXES + extra["plain"],
        "wildcard": extra["wildcard"],
        "exception": extra["exception"],
    }


try:
    # UTS-46 / IDNA2008 — the encoding browsers and crawlers apply.
    # The stdlib codec is IDNA2003, which silently diverges on the
    # rules where the two standards disagree (deviation characters,
    # newer scripts); prefer the real thing when present.
    import idna as _idna
except ImportError:  # pragma: no cover - baked into this container
    _idna = None

# Which encoder actually derived the twins — rule grouping is only
# stable across deployments that agree on this, so the fork must be
# VISIBLE (a host without the idna package would otherwise silently
# group some punycoded hosts under different registrants than the
# committed receipts certify). default_psl_rules also warns once on
# the fallback path.
PUNYCODE_ENCODER = "uts46" if _idna is not None else "idna2003"

# Rules whose punycode twin could not be derived (per-label encode
# failed under the active encoder) in the MOST RECENT rules build.
# Kept module-visible so a PSL snapshot upgrade that introduces
# divergent/unencodable rules is DETECTABLE (tested empty for the
# vendored snapshot) instead of a silent twin drop that un-groups
# those registrants. REPLACED WHOLESALE per build (never appended
# across builds), so one rule set's drops can't be misattributed to
# another after a rebuild; readers always see a complete, internally
# consistent snapshot (assignment is atomic under the GIL).
PUNYCODE_DROPPED: frozenset[str] = frozenset()


def _punycode(rule: str, dropped: set[str]) -> str | None:
    """ASCII (xn--) twin of a PSL rule via per-label IDNA encoding
    (UTS-46 via the ``idna`` package when available, stdlib IDNA2003
    otherwise); None when unchanged or not encodable — unencodable
    rules are recorded in the caller's ``dropped`` accumulator (the
    per-build set behind ``PUNYCODE_DROPPED``). The list publishes
    rules in Unicode form while crawled hosts usually arrive
    punycoded — the twin keys both spellings to the same
    registrant."""

    def enc(lbl: str) -> str:
        if all(ord(ch) < 128 for ch in lbl):
            return lbl
        if _idna is not None:
            return _idna.encode(lbl, uts46=True).decode("ascii")
        return lbl.encode("idna").decode("ascii")

    try:
        out = ".".join(enc(lbl) for lbl in rule.split("."))
    except (UnicodeError, ValueError):
        dropped.add(rule)
        return None
    return out if out != rule else None


_PSL_SNAPSHOT = None


def default_psl_rules() -> dict[str, tuple[str, ...]]:
    """The FULL vendored publicsuffix.org snapshot
    (``data/public_suffix_list.dat``, Mozilla PSL, MPL-2.0 — the list
    itself instructs pulling from publicsuffix.org; this copy is the
    distro's machine-readable snapshot) parsed by ``parse_psl``:
    ~9.4k plain rules (1..5 labels), ~107 wildcard bases (1..4
    labels), 8 exceptions — plus punycode (xn--) twins for the ~466
    Unicode rules so punycoded hosts group identically. Cached
    module-wide; falls back to the excerpt table only if the data
    file is missing."""
    global _PSL_SNAPSHOT
    if _PSL_SNAPSHOT is not None:
        return _PSL_SNAPSHOT
    if _idna is None:  # pragma: no cover - idna baked into container
        import warnings

        warnings.warn(
            "idna package absent: PSL punycode twins derived with the "
            "stdlib IDNA2003 codec, which diverges from UTS-46 on "
            "deviation characters — registered-domain grouping may "
            "differ from receipts produced on UTS-46 hosts "
            "(PUNYCODE_ENCODER records the active encoder)",
            RuntimeWarning,
            stacklevel=2,
        )
    import os

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "data",
        "public_suffix_list.dat",
    )
    if not os.path.exists(path):  # pragma: no cover - vendored file
        _PSL_SNAPSHOT = excerpt_psl_rules()
        return _PSL_SNAPSHOT
    with open(path, encoding="utf-8") as fh:
        rules = parse_psl(fh.read())
    out = {}
    dropped: set[str] = set()
    for cls, vals in rules.items():
        twins = tuple(
            t
            for t in (_punycode(v, dropped) for v in vals)
            if t is not None
        )
        out[cls] = vals + twins
    global PUNYCODE_DROPPED
    PUNYCODE_DROPPED = frozenset(dropped)
    _PSL_SNAPSHOT = out
    return out


def with_registered_domain(
    df,
    host_col: str,
    out_col: str = "registered_domain",
    rules: dict[str, tuple[str, ...]] | None = None,
):
    """PSL-backed eTLD+1 over a host column — the broadcast-join form
    the ``registered_domain`` docstring promises, implementing the
    full publicsuffix.org algorithm over all three rule classes:

      exception (`!www.ck`)  highest precedence; the registrable
                             domain IS the exception rule (its public
                             suffix is the rule minus its leftmost
                             label)
      wildcard  (`*.ck`)     `*` matches exactly one label, so a
                             b-label base makes every (b+1)-label
                             tail a public suffix; registrable =
                             b+2 labels
      plain     (`co.uk`)    a k-label suffix → registrable = k+1
                             labels

    Among non-exception matches the LONGEST public suffix prevails
    (the PSL's most-labels rule); with no multi-label match the
    default `*` rule applies (TLD itself is the suffix → 2-label
    registrable). A host that IS a public suffix has no registrable
    domain (NULL). Hosts are expected lowercased (url_host); a port
    is stripped before splitting.

    Plan: one tiny BroadcastHashJoin per (rule class, label count)
    pair that actually has entries — zero shuffle, zero UDF; the full
    ~9k-entry PSL file parsed by ``parse_psl`` drops in without
    changing the shape (or the cost at 100 TB). Label-suffix temp
    columns are materialized once so the split runs once per row."""
    from pyspark.sql.functions import broadcast

    spark = df.sparkSession
    rules = default_psl_rules() if rules is None else rules
    plain = {s for s in rules.get("plain", ()) if s.count(".") >= 1}
    wild = set(rules.get("wildcard", ()))
    exc = set(rules.get("exception", ()))
    by_labels = lambda vals, k: sorted(  # noqa: E731
        v for v in vals if v.count(".") + 1 == k
    )
    # (flag column, join-key label count, registrable label count),
    # precedence order: exceptions (longest first), then suffix
    # length descending, interleaving wildcard (base b → suffix b+1)
    # with plain (suffix k) classes of equal suffix length. Label
    # counts are DERIVED from the supplied rule set (the real PSL has
    # 5-label private-section entries like amazonaws.com's), so any
    # snapshot drops in without silently truncating long rules.
    exc_lens = sorted({v.count(".") + 1 for v in exc}, reverse=True)
    suffix_lens = sorted(
        {v.count(".") + 2 for v in wild}
        | {v.count(".") + 1 for v in plain},
        reverse=True,
    )
    # Tuples carry (flag col, values, join-key labels, registrable
    # labels, min host labels): a WILDCARD rule `*.base` matches only
    # hosts with MORE labels than its base (the `*` must consume one)
    # — a host equal to the base itself does NOT match and must fall
    # through to the shorter classes ('kobe.jp' under '*.kobe.jp'
    # registers as kobe.jp via the default rule, not NULL).
    classes: list[tuple[str, list[str], int, int, int]] = []
    for d in exc_lens:
        classes.append((f"__exc{d}", by_labels(exc, d), d, d, d))
    for suffix_len in suffix_lens:
        classes.append(
            (
                f"__wild{suffix_len - 1}",
                by_labels(wild, suffix_len - 1),
                suffix_len - 1,
                suffix_len + 1,
                suffix_len,  # host needs base+1 labels to match `*`
            )
        )
        classes.append(
            (
                f"__suf{suffix_len}",
                by_labels(plain, suffix_len),
                suffix_len,
                suffix_len + 1,
                suffix_len,
            )
        )
    classes = [c for c in classes if c[1]]
    if not classes:
        raise ValueError("PSL rule set has no multi-label entries")

    bare = F.regexp_replace(F.col(host_col), ":[0-9]+$", "")
    labels = F.split(bare, "\\.")
    n = F.size(labels)

    def lastk(k: int) -> Column:
        # guarded slice (ANSI mode: element_at past the end throws)
        return F.when(
            n >= k, F.array_join(F.slice(labels, n - k + 1, k), ".")
        )

    ks = sorted(
        {2}
        | {k for _, _, k, _, _ in classes}
        | {r for _, _, _, r, _ in classes}
    )
    tmp = df.select(
        "*", *[lastk(k).alias(f"__l{k}") for k in ks]
    )
    j = tmp
    for name, vals, k, _, _ in classes:
        t = spark.createDataFrame([(v,) for v in vals], f"{name}: string")
        j = j.join(broadcast(t), j[f"__l{k}"] == t[name], "left")
    reg: Column | None = None
    for name, _, _, r, min_n in classes:
        w = (F.col(name).isNotNull() & (n >= min_n), F.col(f"__l{r}"))
        reg = F.when(*w) if reg is None else reg.when(*w)
    reg = reg.otherwise(F.col("__l2"))
    return j.withColumn(out_col, reg).drop(
        *[f"__l{k}" for k in ks], *[name for name, _, _, _, _ in classes]
    )


def domain_of(host: Column) -> Column:
    """registered_domain over an already-extracted host column."""
    bare = F.regexp_replace(host, ":[0-9]+$", "")
    return F.nullif(F.regexp_extract(bare, "([^.]+\\.[^.]+)$", 1), F.lit(""))


def strip_tracking_params(query: Column) -> Column:
    """Remove utm_*/fbclid/gclid tracking parameters from a query
    string, preserving the relative order of the rest. NULL when
    nothing survives."""
    kept = F.filter(
        F.split(query, "&"),
        lambda kv: ~kv.rlike("^(utm_[a-zA-Z]+|fbclid|gclid)="),
    )
    return F.when(
        query.isNotNull() & (F.size(kept) > 0), F.array_join(kept, "&")
    )


def canonical_from_parts(
    scheme: Column, host: Column, path: Column, q: Column
) -> Column:
    """Canonical URL for exact-dedup keys — lowercase scheme+host,
    default port dropped, fragment and tracking params stripped, the
    path's trailing slash stripped — assembled from already-materialized
    part columns (``q`` post-strip_tracking_params; see
    with_url_parts). Materialized parts matter: Spark's CSE does not
    deduplicate subtrees across when-branches and lambda bodies, so an
    inlined form re-runs each regex several times."""
    base = F.concat(scheme, F.lit("://"), host, path)
    return F.when(
        scheme.isNotNull() & host.isNotNull(),
        F.concat(
            base,
            F.when(q.isNotNull(), F.concat(F.lit("?"), q)).otherwise(F.lit("")),
        ),
    )


def with_url_parts(df, url_col: str, prefix: str = "__url_"):
    """Add scheme/host/path/stripped-query part columns in one
    projection, so every downstream consumer (canonical key, domain,
    depth) references the materialized columns instead of re-running
    the regex chain per consumer."""
    return df.select(
        "*",
        url_scheme(url_col).alias(f"{prefix}scheme"),
        url_host(url_col).alias(f"{prefix}host"),
        url_path(url_col).alias(f"{prefix}path"),
        strip_tracking_params(url_query(url_col)).alias(f"{prefix}q"),
    )


def url_dedup_first_wins(df, url_col: str, order_col: str):
    """Keep the first row (by ``order_col``) per canonical URL — the
    crawl-layer exact dedup. One shuffle on the canonical key; the
    row_number trim compiles to map-side WindowGroupLimit, so each
    duplicate group moves one row per map partition, not the group.
    The canonical key is built in two projections (parts, then
    assembly) so each URL regex evaluates exactly once per row."""
    parts = with_url_parts(df, url_col)
    canon = parts.withColumn(
        "__canon",
        canonical_from_parts(
            F.col("__url_scheme"),
            F.col("__url_host"),
            F.col("__url_path"),
            F.col("__url_q"),
        ),
    ).drop("__url_scheme", "__url_host", "__url_path", "__url_q")
    return top1_per_group(canon, ["__canon"], [F.asc(order_col)])


def html_links(c: Column | str) -> Column:
    """All href attribute values from raw HTML (double-quoted form —
    the overwhelmingly dominant shape in real markup; single-quoted/
    unquoted attributes are documented out of scope — but attribute
    CASE is not: HREF=/Href= appear in older crawl HTML). The outlink
    extraction behind WAT-style link records and host-graph builds.
    RE2-safe regexp_extract_all, zero shuffle; relative URLs come
    back verbatim — callers filter/resolve (url_host returns NULL for
    them, the natural absolute-only gate). The whitespace guard
    before ``href`` keeps ``data-href=``/``xlink:href=``/``ng-href=``
    attributes out (attributes are always space-separated, so a real
    href is always space-preceded inside its tag)."""
    return F.regexp_extract_all(_c(c), F.lit('(?i)\\shref="([^"]*)"'), 1)


def html_title(c: Column | str) -> Column:
    """<title> text, whitespace-collapsed; NULL when absent."""
    t = F.regexp_extract(_c(c), "(?is)<title>(.*?)</title>", 1)
    return F.nullif(F.trim(F.regexp_replace(t, "\\s+", " ")), F.lit(""))


def html_anchors(c: Column | str) -> Column:
    """(href, text) pairs for every anchor element — anchor text is
    the classic retrieval/link-context training signal (what the WAT
    format calls link 'text'). Pure-Column extraction in three RE2-
    safe stages: (1) implicit-close normalization — HTML forbids
    nested ``<a>``, so real parsers treat a new opener as closing the
    previous anchor; injecting ``</a>`` before every opener makes the
    minimal match pair correctly instead of an unclosed anchor
    swallowing the NEXT one (stray closers outside anchors match
    nothing); (2) full elements via regexp_extract_all; (3) per-
    element space-guarded href (``data-href=`` never wins over the
    real ``href=``) + tag-stripped whitespace-collapsed inner text
    via an array transform. Anchors without a (non-empty) href are
    dropped; a trailing unclosed anchor matches nothing — never a
    mis-paired span. Same scope notes as html_links (double-quoted
    hrefs, any attribute case)."""
    x = F.regexp_replace(_c(c), "(?i)<a(\\s)", "</a><a$1")
    elems = F.regexp_extract_all(x, F.lit("(?is)<a\\s[^>]*>.*?</a>"), 0)

    def to_struct(e: Column) -> Column:
        inner = F.regexp_extract(e, "(?is)^<a[^>]*>(.*)</a>$", 1)
        text = F.trim(
            F.regexp_replace(
                F.regexp_replace(inner, "(?s)<[^>]+>", " "), "\\s+", " "
            )
        )
        return F.struct(
            # anchored to the OPEN tag ([^>]*? cannot cross '>'), so a
            # space-preceded href=" inside the anchor's inner content
            # or nested markup can never fabricate a link
            F.regexp_extract(
                e, '(?is)^<a[^>]*?\\shref="([^"]*)"', 1
            ).alias("href"),
            text.alias("text"),
        )

    return F.filter(
        F.transform(elems, to_struct), lambda s: s["href"] != ""
    )


def link_graph(df, html_col: str, src_host: Column):
    """Host-level outlink edge list from raw HTML pages: explode
    href values, keep absolute http(s) links (url_host is NULL for
    relative ones), drop self-edges, count links per (src, dst) host
    pair — the aggregation that feeds host-graph analytics
    (PageRank-based domain ranking, spam neighborhoods). One shuffle
    on the host pair with map-side partial counts; the explode is
    narrow."""
    links = df.select(
        src_host.alias("src_host"),
        F.explode(html_links(html_col)).alias("__link"),
    )
    dst = url_host(F.col("__link"))
    return (
        links.select("src_host", dst.alias("dst_host"))
        .filter(
            F.col("dst_host").isNotNull()
            & (F.col("dst_host") != F.col("src_host"))
        )
        .groupBy("src_host", "dst_host")
        .agg(F.count("*").cast("bigint").alias("n_links"))
    )


def parse_robots_rules(df, host_col: str, text_col: str, user_agent: str = "*"):
    """Parse raw robots.txt BODIES (as crawled) into the (host, allow,
    prefix) rule rows with_robots_verdict consumes — the front half of
    the politeness gate. RFC 9309 grouping: consecutive User-agent
    lines form one group header (a new User-agent line AFTER rules
    starts a new group); empty Allow/Disallow values mean 'no
    restriction' and contribute no row; comment/blank lines are
    ignored (inline '#' comments are out of the line-oriented scope,
    documented).

    Group SELECTION is §2.2.1's most-specific-match rule (the
    de-facto semantics of Google's open-source parser): an agent
    token applies when it is a case-insensitive PREFIX of
    ``user_agent`` ('googlebot' matches a 'googlebot-news' crawler),
    the LONGEST matching token across the whole file wins, groups
    tying at that length combine, and the ``*`` group (match length
    0) applies only when no named token matches at all. Selection is
    over group HEADERS, not emitted rules: a matching specific group
    with no Allow/Disallow lines means allow-all for that agent (no
    rows; the ``*`` group is ignored, not fallen back to). Any
    non-User-agent directive line (Crawl-delay, Sitemap, unknown)
    ends a User-agent header run, so adjacent groups never merge
    across stray directives.

    Implementation is a pure-Column F.aggregate fold over the line
    array — per-row sequential state without a UDF — plus one array
    filter keeping only max-specificity rules, so the whole parse
    stays inside codegen with zero shuffle."""
    lines = F.split(F.regexp_replace(F.col(text_col), "\r", ""), "\n")
    # toklen: specificity of the group the rule came from — length of
    # its longest matching agent token, 0 for '*', -1 for no match.
    # best: the FILE-WIDE max matching token length over every group
    # HEADER (not over emitted rules) — RFC 9309 §2.2.1: the most
    # specific matching group is selected even when it contains no
    # Allow/Disallow lines (which then means allow-all; the '*' group
    # is ignored, not fallen back to).
    rules_t = "array<struct<allow:boolean,prefix:string,toklen:int>>"
    state0 = F.struct(
        F.lit(-1).cast("int").alias("cur"),
        F.lit(False).alias("ua_run"),
        F.lit(-1).cast("int").alias("best"),
        F.array().cast(rules_t).alias("rules"),
    )
    ua = user_agent.lower()

    def step(acc: Column, ln: Column) -> Column:
        # RFC 9309 WS is space OR tab; Spark's trim strips spaces only
        t = F.regexp_replace(ln, "^[ \\t]+|[ \\t]+$", "")
        low = F.lower(t)
        val = F.regexp_replace(
            F.regexp_extract(t, "^[^:]*:(.*)$", 1), "^[ \\t]+|[ \\t]+$", ""
        )
        is_ua = low.startswith("user-agent:")
        is_allow = low.startswith("allow:")
        is_dis = low.startswith("disallow:")
        # Any OTHER directive line (Crawl-delay, Sitemap, unknown
        # name:value) also ends a User-agent header run — otherwise a
        # stray directive between two UA lines would merge adjacent
        # groups and tag one group's rules with the other's
        # specificity. Blank lines and comments stay neutral.
        is_other = (
            (t != "") & ~low.startswith("#") & ~is_ua & ~is_allow & ~is_dis
        )
        lval = F.lower(val)
        hit_len = (
            F.when(lval == "*", F.lit(0))
            # a malformed empty 'User-agent:' header must NOT match
            # every crawler ('' is a prefix of anything) — RFC 9309
            # treats it as no product token, i.e. no match
            .when(lval == "", F.lit(-1))
            .when(F.lit(ua).startswith(lval), F.length(lval))
            .otherwise(F.lit(-1))
            .cast("int")
        )
        cur = (
            F.when(is_ua & acc["ua_run"], F.greatest(acc["cur"], hit_len))
            .when(is_ua, hit_len)  # new group header resets membership
            .otherwise(acc["cur"])
        )
        ua_run = (
            F.when(is_ua, F.lit(True))
            .when(is_allow | is_dis | is_other, F.lit(False))
            .otherwise(acc["ua_run"])
        )
        best = F.when(is_ua, F.greatest(acc["best"], hit_len)).otherwise(
            acc["best"]
        )
        rules = F.when(
            (is_allow | is_dis) & (acc["cur"] >= 0) & (val != ""),
            F.array_append(
                acc["rules"],
                F.struct(
                    is_allow.alias("allow"),
                    val.alias("prefix"),
                    acc["cur"].alias("toklen"),
                ),
            ),
        ).otherwise(acc["rules"])
        return F.struct(
            cur.alias("cur"),
            ua_run.alias("ua_run"),
            best.alias("best"),
            rules.alias("rules"),
        )

    agg = F.aggregate(lines, state0, step)
    kept = F.filter(agg["rules"], lambda r: r["toklen"] == agg["best"])
    return df.select(
        F.col(host_col).alias("host"), F.explode(kept).alias("r")
    ).select("host", F.col("r.allow").alias("allow"), F.col("r.prefix").alias("prefix"))


def _robots_pattern_body(pattern: Column) -> Column:
    """Robots pattern with ONE trailing end-anchor '$' removed (RFC
    9309 §2.2.3: '$' is special only as the pattern's last octet;
    '/a$$' therefore means the literal path '/a$', anchored)."""
    return F.regexp_replace(pattern, "\\$$", "")


def robots_pattern_regex(pattern: Column) -> Column:
    """Compile an RFC 9309 path pattern ('*' = any char sequence, a
    trailing '$' = end-of-path anchor, everything else literal) into
    an anchored regex STRING: every regex metacharacter except '*' is
    backslash-escaped, '*' becomes '.*', and '^'/'$' anchors are
    added. The construction uses only constructs Java regex and RE2
    interpret identically (escaped literals, '.*', anchors), so the
    DuckDB oracle mirrors it expression-for-expression and matching
    agrees byte-for-byte."""
    anchored = pattern.endswith("$")
    body = _robots_pattern_body(pattern)
    esc = F.regexp_replace(body, "([.^$|()\\[\\]{}+?\\\\])", "\\\\$1")
    rx = F.replace(esc, F.lit("*"), F.lit(".*"))
    return F.concat(
        F.lit("^"), rx, F.when(anchored, F.lit("$")).otherwise(F.lit(""))
    )


def robots_pattern_specificity(pattern: Column) -> Column:
    """Rule specificity for longest-match resolution, generalized to
    wildcards: the number of LITERAL octets in the pattern ('*' and
    the trailing anchor '$' contribute nothing). For wildcard-free
    prefix rules this is exactly the prefix length — the pre-wildcard
    semantics are a special case, unchanged."""
    return F.length(F.replace(_robots_pattern_body(pattern), F.lit("*"), F.lit("")))


def with_robots_verdict(
    df,
    rules,
    host_col: str,
    path_col: str,
    out_col: str = "crawl_allowed",
):
    """RFC 9309 (robots.txt) rule matching — the politeness gate every
    crawler runs before fetch and every crawl-corpus audit re-runs
    after the fact. ``rules`` is a DataFrame (host, allow boolean,
    prefix string) of the already-parsed per-host rule lines for the
    relevant user-agent group (non-empty patterns; an empty Disallow
    means 'no restriction' per the RFC and contributes no row).

    Full §2.2.3 pattern grammar: '*' matches any character sequence
    (including '/'), a trailing '$' anchors the match to the path's
    end ('Disallow: /*.pdf$'), everything else matches literally.
    Semantics: the MOST SPECIFIC matching rule wins — specificity =
    number of literal octets in the pattern (for wildcard-free rules
    exactly the classic longest-prefix length); on a specificity tie
    Allow wins (the RFC's least-restrictive rule); no matching rule →
    allowed.

    Plan: each rule's pattern compiles to an anchored regex ONCE on
    the TINY rules side (robots files are KB-scale) before the
    per-host aggregation, the rule sets broadcast-join to the corpus,
    and match + specificity resolution run entirely in array
    higher-order functions — zero shuffle on the corpus side at any
    scale, mirrored with DuckDB list lambdas in the oracle. The regex
    itself re-compiles per (row, rule) evaluation (a non-literal
    rlike pattern); with KB-scale per-host rule sets that's the
    standard cost every production robots matcher pays per URL."""
    from pyspark.sql.functions import broadcast

    compiled = rules.select(
        "host",
        "allow",
        "prefix",
        robots_pattern_regex(F.col("prefix")).alias("rx"),
        robots_pattern_specificity(F.col("prefix")).alias("lit"),
    )
    per_host = compiled.groupBy("host").agg(
        F.collect_list(F.struct("allow", "prefix", "rx", "lit")).alias(
            "__rules"
        )
    ).withColumnRenamed("host", "__rhost")
    j = df.join(
        broadcast(per_host), df[host_col] == per_host["__rhost"], "left"
    )
    path = _c(path_col)
    matching = F.filter(
        F.coalesce(F.col("__rules"), F.array()),
        lambda r: F.rlike(path, r["rx"]),
    )
    best = F.array_max(F.transform(matching, lambda r: r["lit"]))
    allowed = F.when(F.size(matching) == 0, F.lit(True)).otherwise(
        F.exists(matching, lambda r: (r["lit"] == best) & r["allow"])
    )
    return j.withColumn(out_col, allowed).drop("__rhost", "__rules")


# token delimiter for numeric-charref decoding: a control char real
# HTML never carries (and is scrubbed first so input can't fake it)
_CREF_MARK = "\x01"


def decode_numeric_charrefs(c: Column | str) -> Column:
    """Decode ASCII-range numeric character references — ``&#NN;``
    (decimal) and ``&#xNN;`` (hex) — common in real crawl HTML.

    RE2-safe, no UDF: the charref digits are rewritten to a
    control-char-delimited token via a ``$1`` REPLACEMENT backreference
    (replacements may backreference; it's patterns that can't under
    RE2), the string split on the delimiter — making every odd segment
    a captured number — odd segments decoded with chr() via an indexed
    transform lambda, and the array rejoined. Printable ASCII 32-126
    decodes (the range engines agree on byte-for-byte); anything else
    is preserved verbatim (hex re-emits a lowercase x). The delimiter
    is scrubbed from the input first. Everything stays codegen'd
    Columns — zero shuffle, mirrored expression-for-expression in the
    oracle (mind DuckDB's 1-based lambda index vs Spark's 0-based).

    The one character that must NOT decode here is '&' (38/0x26):
    emitting a bare '&' would let html_to_text's later named-entity
    passes re-decode it ('&#38;lt;' would mis-extract as '<'). It
    decodes to the NAMED form '&amp;' instead, which the final
    &amp;-last replace turns into '&' exactly once — single-pass
    semantics preserved."""
    x = F.replace(_c(c), F.lit(_CREF_MARK), F.lit(" "))

    def one_pass(col: Column, pat: str, prefix: str, to_int) -> Column:
        marked = F.regexp_replace(col, pat, _CREF_MARK + "$1" + _CREF_MARK)
        parts = F.split(marked, _CREF_MARK)
        dec = F.transform(
            parts,
            lambda s, i: F.when(
                (i % 2 == 1) & (to_int(s) == 38), F.lit("&amp;")
            )
            .when(
                (i % 2 == 1) & to_int(s).between(32, 126),
                F.char(to_int(s)),
            )
            .when(i % 2 == 1, F.concat(F.lit(prefix), s, F.lit(";")))
            .otherwise(s),
        )
        return F.array_join(dec, "")

    x = one_pass(x, "&#([0-9]{2,3});", "&#", lambda s: s.try_cast("int"))
    x = one_pass(
        x,
        "&#[xX]([0-9a-fA-F]{2});",
        "&#x",
        lambda s: F.conv(s, 16, 10).try_cast("int"),
    )
    return x


def html_to_text(c: Column | str) -> Column:
    """Boilerplate-free text from raw HTML — the extraction step every
    web-corpus pipeline runs between the crawl and the curation
    filters (trafilatura-lite). Pure regexp_replace chain: script and
    style blocks (with their content) and comments removed, remaining
    tags stripped, ASCII-range numeric character references decoded
    (decode_numeric_charrefs — BEFORE the named entities, so a
    double-escaped '&amp;#65;' correctly yields the literal '&#65;'),
    then the five ubiquitous named entities (&amp; LAST, the
    conventional single-pass order, so '&amp;lt;' decodes to '&lt;'
    identically on every engine), whitespace collapsed. Codegen'd,
    zero shuffle, linear scan. RE2-compatible patterns throughout, so
    the oracle mirrors them verbatim. A production pipeline chains
    readability scoring behind the same Column contract."""
    x = _c(c)
    x = F.regexp_replace(x, "(?is)<script[^>]*>.*?</script>", " ")
    x = F.regexp_replace(x, "(?is)<style[^>]*>.*?</style>", " ")
    x = F.regexp_replace(x, "(?s)<!--.*?-->", " ")
    x = F.regexp_replace(x, "(?s)<[^>]+>", " ")
    x = decode_numeric_charrefs(x)
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&#39;", "'"),
        ("&nbsp;", " "),
        ("&amp;", "&"),
    ):
        x = F.replace(x, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(x, "\\s+", " "))


def blocklist_filter(
    df,
    host_col: str,
    text_col: str,
    blocked_domains,
    banned_words,
    domain_col: str = "registered_domain",
):
    """UT1/FineWeb-style blocklist gate — the crawl-curation step
    after URL dedup: drop documents whose REGISTERED domain (PSL
    eTLD+1, so every subdomain of a blocked site is caught) appears
    on a domain blocklist, or whose text contains any banned word as
    a whole token.

    Plan shape: the domain blocklist is a broadcast LEFT-ANTI join
    (UT1's ~4M entries are still MBs — broadcast-sized at any corpus
    scale); the word gate is ``array_intersect`` against a literal
    array over the token column — pure codegen, no lambda, no UDF.
    Zero shuffle end to end: at 100 TB this is a read-and-drop pass.
    Survivors keep all input columns plus ``domain_col``.
    """
    spark = df.sparkSession
    bl = spark.createDataFrame(
        [(d,) for d in sorted(set(blocked_domains))],
        f"{domain_col}: string",
    )
    dom = with_registered_domain(df, host_col, domain_col)
    keep = dom.join(F.broadcast(bl), domain_col, "left_anti")
    banned = F.array(*[F.lit(w) for w in sorted(set(banned_words))])
    # NULL text contains no banned word — coalesce so the row passes
    # the word gate instead of being silently dropped (size(NULL)
    # fails the == 0 predicate)
    toks = F.coalesce(
        F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), 0
        ),
        F.array().cast("array<string>"),
    )
    return keep.filter(F.size(F.array_intersect(toks, banned)) == 0)


def url_quality_flags(c: Column | str) -> dict[str, Column]:
    """FineWeb/CCNet-style URL quality heuristics — the cheap pre-
    fetch gate that prunes spam before a byte of the page is read.
    All pure Column predicates on the URL string (zero shuffle, no
    UDF, RE2-safe regexes mirrored verbatim by the oracle):

      host_digit_ratio   digits / host length (spam farms:
                         a1b2c3d4.example)
      n_subdomains       dot count of the host (deep chains are
                         auto-generated)
      path_len           characters after the host
      query_len          characters in the ?query (session-id/
                         tracking bloat)
      digits_ok          host_digit_ratio <= 0.2
      depth_ok           n_subdomains <= 4
      path_ok            path_len <= 120 and query_len <= 80
      url_quality_pass   conjunction

    Thresholds are the tunable part; the dict-of-named-predicates
    shape (gopher_quality_flags' contract) is what a pipeline
    composes."""
    u = _c(c)
    host = url_host(u)
    hostlen = F.length(host)
    digits = hostlen - F.length(F.regexp_replace(host, "[0-9]", ""))
    digit_ratio = F.when(
        hostlen > 0, digits / hostlen.cast("double")
    ).otherwise(F.lit(0.0))
    n_sub = F.when(
        host.isNotNull(),
        F.length(host) - F.length(F.replace(host, F.lit("."), F.lit(""))),
    ).otherwise(F.lit(0)).cast("bigint")
    # same case-insensitive scheme class as _HOST_RE — crawls carry
    # uppercase schemes, and a miss here would leave the whole URL in
    # "path"
    after_scheme = F.regexp_replace(
        u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*", ""
    )
    path = F.regexp_extract(after_scheme, "^([^?#]*)", 1)
    qry = F.regexp_extract(after_scheme, "\\?([^#]*)", 1)
    flags = {
        "host_digit_ratio": digit_ratio,
        "n_subdomains": n_sub,
        "path_len": F.length(path).cast("bigint"),
        "query_len": F.length(qry).cast("bigint"),
    }
    flags["digits_ok"] = digit_ratio <= 0.2
    flags["depth_ok"] = n_sub <= 4
    flags["path_ok"] = (flags["path_len"] <= 120) & (
        flags["query_len"] <= 80
    )
    flags["url_quality_pass"] = (
        flags["digits_ok"] & flags["depth_ok"] & flags["path_ok"]
    )
    return flags


def sitemap_urls(df, id_col: str, xml_col: str):
    """Sitemap-protocol extraction (sitemaps.org 0.9 — the crawl-
    frontier feed next to robots.txt): one row per ``<url>`` entry
    with its ``<loc>`` (required) and ``<lastmod>`` (optional) —
    the discovery step that seeds a crawl's URL frontier and the
    freshness signal recrawl scheduling keys on. Also recognizes
    ``<sitemap>`` index entries (nested sitemap files) via the
    ``is_index`` flag.

    Pure regexp chain (RE2-safe, mirrored verbatim by the oracle):
    each ``<url>``/``<sitemap>`` element is extracted whole, then
    loc/lastmod pulled per element — malformed elements without a
    <loc> yield NULL and are dropped. Zero shuffle, no XML library,
    no UDF; entity-decoding of the loc reuses html_to_text's
    numeric-charref pass ONLY for the &amp; family sitemaps require
    escaping."""
    elems = F.regexp_extract_all(
        F.col(xml_col), F.lit("(?s)<(?:url|sitemap)>.*?</(?:url|sitemap)>"), 0
    )
    ex = df.select(F.col(id_col), F.explode(elems).alias("_e"))
    loc = F.regexp_extract(
        F.col("_e"), "(?s)<loc>\\s*(.*?)\\s*</loc>", 1
    )
    lastmod = F.regexp_extract(
        F.col("_e"), "(?s)<lastmod>\\s*(.*?)\\s*</lastmod>", 1
    )
    unescaped = loc
    for ent, ch in (
        ("&lt;", "<"),
        ("&gt;", ">"),
        ("&quot;", '"'),
        ("&apos;", "'"),
        ("&amp;", "&"),
    ):
        unescaped = F.replace(unescaped, F.lit(ent), F.lit(ch))
    return ex.select(
        F.col(id_col),
        F.nullif(unescaped, F.lit("")).alias("loc"),
        F.nullif(lastmod, F.lit("")).alias("lastmod"),
        F.col("_e").startswith("<sitemap>").alias("is_index"),
    ).filter(F.col("loc").isNotNull())


def gunzip_text(url: Column, payload: Column) -> Column:
    """Payload bytes → XML/text string, gunzipping gzip members
    (magic 1f 8b — sitemaps are overwhelmingly served as .xml.gz)
    and utf-8/replace-decoding the rest. Arrow-batched pandas UDF
    (Spark has no gunzip builtin); one narrow projection, batch-
    bounded memory, zero shuffle. The ``url`` column rides along
    only for error messages."""
    import gzip as _gzip

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def gz(urls: pd.Series, payloads: pd.Series) -> pd.Series:
        out = []
        for u, p in zip(urls, payloads):
            if p is None:
                out.append(None)
                continue
            b = bytes(p)
            if b[:2] == b"\x1f\x8b":
                try:
                    b = _gzip.decompress(b)
                except (OSError, EOFError) as err:
                    raise ValueError(f"corrupt gzip sitemap {u!r}: {err}")
            out.append(b.decode("utf-8", "replace"))
        return pd.Series(out)

    return gz(url, payload)


def sitemap_frontier(
    pages,
    url_col: str,
    payload_col: str,
    seeds,
    seed_col: str = "sitemap_url",
    max_depth: int = 3,
):
    """The crawl-frontier loop sitemaps.org specifies: starting from
    the robots.txt ``Sitemap:`` seeds (robots_sitemaps), fetch each
    sitemap, RECURSE through ``<sitemapindex>`` entries into child
    sitemaps (most real ones served gzipped — handled transparently
    by gunzip_text's magic-byte check), and accumulate the leaf
    ``<url>`` entries that feed crawl_schedule. ``pages`` is the
    fetched-sitemap corpus (url → raw payload BINARY); ``seeds`` the
    seed URL relation.

    Plan shape per level (the hierarchy.py discipline, adapted to a
    loop whose levels ARE data-dependent): the seed set is KB-scale
    (robots directives + index entries), so each level's fetch is a
    BROADCAST semi-style join of seeds INTO the pages corpus — the
    corpus never shuffles; the driver loop is bounded by
    ``max_depth`` (the spec caps nesting; real indexes are 2 levels)
    and each level's next-seed set is localCheckpointed (eager) to
    cut lineage growth, with already-fetched URLs anti-joined away so
    a self-referencing index cannot loop. Output: one row per
    discovered URL — (sitemap_url, loc, lastmod, depth).
    """
    spark = pages.sparkSession
    cur = seeds.select(F.col(seed_col).alias("__sm_url")).distinct()
    seen = cur
    out = None
    for depth in range(max_depth):
        fetched = pages.join(
            F.broadcast(cur), pages[url_col] == F.col("__sm_url"), "inner"
        ).select(
            F.col("__sm_url").alias("sitemap_url"),
            gunzip_text(F.col(url_col), F.col(payload_col)).alias("__xml"),
        )
        entries = sitemap_urls(fetched, "sitemap_url", "__xml")
        leaves = entries.filter(~F.col("is_index")).select(
            "sitemap_url",
            "loc",
            "lastmod",
            F.lit(depth).cast("int").alias("depth"),
        )
        out = leaves if out is None else out.unionByName(leaves)
        nxt = (
            entries.filter(F.col("is_index"))
            .select(F.col("loc").alias("__sm_url"))
            .distinct()
            .join(seen, "__sm_url", "left_anti")
            .localCheckpoint(eager=True)
        )
        if depth + 1 >= max_depth or nxt.isEmpty():
            break
        seen = seen.unionByName(nxt)
        cur = nxt
    return out


def robots_sitemaps(df, host_col: str, text_col: str):
    """``Sitemap:`` directives from robots.txt bodies (RFC 9309 §2.3
    allows them anywhere in the file, outside any user-agent group):
    one row per directive — the link that closes the crawl-frontier
    loop robots.txt → sitemap → sitemap_urls. Case-insensitive
    field name, space/tab-trimmed absolute URL, zero shuffle."""
    # CRLF (and mangled CR CR LF) robots bodies: strip \r up front,
    # the same normalization parse_robots_rules applies
    lines = F.explode(
        F.split(F.regexp_replace(F.col(text_col), "\r", ""), "\n")
    ).alias("_ln")
    ex = df.select(F.col(host_col), lines)
    t = F.regexp_replace(F.col("_ln"), "^[ \\t]+|[ \\t]+$", "")
    url = F.regexp_replace(
        F.regexp_extract(t, "(?i)^sitemap:(.*)$", 1),
        "^[ \\t]+|[ \\t]+$",
        "",
    )
    return (
        ex.select(F.col(host_col), F.nullif(url, F.lit("")).alias("sitemap_url"))
        .filter(F.col("sitemap_url").isNotNull())
    )


def crawl_schedule(
    df,
    url_col: str,
    lastmod_col: str,
    per_domain: int,
    domain_col: str = "registered_domain",
):
    """Recrawl scheduling — the step after frontier discovery: rank
    each registered domain's URLs STALEST-first (lastmod ascending,
    never-crawled/unknown first) and keep the top ``per_domain`` as
    this cycle's fetch budget. Politeness budgets are per REGISTERED
    domain (PSL), not per host, so subdomain farms can't multiply
    their allocation.

    Plan shape: PSL broadcast joins (zero shuffle) + ONE exchange on
    the domain for the rank window, trimmed map-side by
    WindowGroupLimit — each map task ships at most ``per_domain``
    rows per domain, the stratified_take discipline. Deterministic
    tie-break on the URL string.

    Output: input columns + domain_col + ``fetch_rank`` (1 = stalest,
    fetch first).
    """
    from pyspark.sql import Window

    host = url_host(F.col(url_col))
    dom = with_registered_domain(
        df.withColumn("__host", host), "__host", domain_col
    )
    w = Window.partitionBy(domain_col).orderBy(
        F.col(lastmod_col).asc_nulls_first(), F.col(url_col).asc()
    )
    return (
        dom.withColumn("fetch_rank", F.row_number().over(w))
        .filter(F.col("fetch_rank") <= per_domain)
        .drop("__host")
        .withColumn("fetch_rank", F.col("fetch_rank").cast("bigint"))
    )


def robots_crawl_delay(df, host_col: str, text_col: str, user_agent: str = "*"):
    """``Crawl-delay`` seconds per host for the most-specific matching
    agent group — the de-facto politeness knob (not in RFC 9309, but
    honored by Bing/Yandex and ubiquitous in real robots.txt), the
    number a crawl scheduler feeds into per-host rate limits next to
    crawl_schedule's budgets. Group selection is parse_robots_rules'
    §2.2.1 rule: prefix match, the longest matching token across the
    whole file's group HEADERS wins, '*' applies only when no named
    token matches — and a most-specific group WITHOUT a usable
    Crawl-delay means no delay for that agent (the '*' group's delay
    is ignored, not fallen back to). Within the winning specificity
    the LAST numeric Crawl-delay wins (later directives override);
    non-numeric values are ignored; any non-User-agent directive line
    ends a header run (adjacent groups never merge across stray
    directives). Same zero-shuffle pure-Column fold. Output: (host,
    crawl_delay double) — hosts without a usable directive in the
    selected group are omitted."""
    lines = F.split(F.regexp_replace(F.col(text_col), "\r", ""), "\n")
    state0 = F.struct(
        F.lit(-1).cast("int").alias("cur"),
        F.lit(False).alias("ua_run"),
        F.lit(-1).cast("int").alias("best"),  # file-wide max header hit
        F.lit(-1).cast("int").alias("dlen"),  # toklen the delay came from
        F.lit(None).cast("double").alias("delay"),
    )
    ua = user_agent.lower()

    def step(acc: Column, ln: Column) -> Column:
        t = F.regexp_replace(ln, "^[ \\t]+|[ \\t]+$", "")
        low = F.lower(t)
        val = F.regexp_replace(
            F.regexp_extract(t, "^[^:]*:(.*)$", 1), "^[ \\t]+|[ \\t]+$", ""
        )
        is_ua = low.startswith("user-agent:")
        is_other = (t != "") & ~low.startswith("#") & ~is_ua
        is_cd = low.startswith("crawl-delay:")
        lval = F.lower(val)
        hit_len = (
            F.when(lval == "*", F.lit(0))
            # a malformed empty 'User-agent:' header must NOT match
            # every crawler ('' is a prefix of anything) — RFC 9309
            # treats it as no product token, i.e. no match
            .when(lval == "", F.lit(-1))
            .when(F.lit(ua).startswith(lval), F.length(lval))
            .otherwise(F.lit(-1))
            .cast("int")
        )
        cur = (
            F.when(is_ua & acc["ua_run"], F.greatest(acc["cur"], hit_len))
            .when(is_ua, hit_len)
            .otherwise(acc["cur"])
        )
        ua_run = (
            F.when(is_ua, F.lit(True))
            .when(is_other, F.lit(False))
            .otherwise(acc["ua_run"])
        )
        best = F.when(is_ua, F.greatest(acc["best"], hit_len)).otherwise(
            acc["best"]
        )
        num = val.try_cast("double")
        takes = (
            is_cd
            & (acc["cur"] >= 0)
            & num.isNotNull()
            & (acc["cur"] >= acc["dlen"])
        )
        dlen = F.when(takes, acc["cur"]).otherwise(acc["dlen"])
        delay = F.when(takes, num).otherwise(acc["delay"])
        return F.struct(
            cur.alias("cur"),
            ua_run.alias("ua_run"),
            best.alias("best"),
            dlen.alias("dlen"),
            delay.alias("delay"),
        )

    agg = F.aggregate(lines, state0, step)
    # The delay counts only if it came from the SELECTED (file-wide
    # most specific matching) group — not a less-specific fallback.
    return df.select(
        F.col(host_col).alias("host"),
        F.when(agg["dlen"] == agg["best"], agg["delay"]).alias(
            "crawl_delay"
        ),
    ).filter(F.col("crawl_delay").isNotNull())
