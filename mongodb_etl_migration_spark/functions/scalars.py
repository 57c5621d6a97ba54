"""Scalar Column builders — SURVEY.md §2.3 (F1–F29).

Every function here returns a ``pyspark.sql.Column`` built purely from
JVM built-ins, so the whole projection stays inside whole-stage codegen
(no Python per-row cost). Each docstring cites the reference lambda it
re-expresses (paths relative to /root/reference).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------- F1/F2
def email_normalize(c: Column | str) -> Column:
    """lower(strip(email)) — etl/transformers/data_transformer.py:222-223."""
    return F.lower(F.trim(_col(c)))


def phone_digits(c: Column | str) -> Column:
    """Keep digits only (PostgreSQL form) —
    etl/transformers/data_transformer.py:226-236."""
    return F.regexp_replace(_col(c), "[^0-9]", "")


def phone_e164ish(c: Column | str) -> Column:
    """Digits with '+' prefix (Cassandra form) —
    etl/transformers/data_transformer.py:229-232. Empty stays empty."""
    d = phone_digits(c)
    return F.when(F.length(d) > 0, F.concat(F.lit("+"), d)).otherwise(d)


# ------------------------------------------------------------------- F3
def dni_format(c: Column | str) -> Column:
    """Venezuelan DNI formatting — etl/utils/validators.py:191-215.

    upper, strip non-[A-Z0-9]; if len>=7: when first char is a type
    letter (V/E/J/G/P) → 'X-rest', else → 'V-<all digits>'. Shorter
    strings pass through cleaned.
    """
    cleaned = F.regexp_replace(F.upper(_col(c)), "[^A-Z0-9]", "")
    first = F.substring(cleaned, 1, 1)
    rest = F.substring(cleaned, 2, 1 << 20)
    typed = first.isin("V", "E", "J", "G", "P")
    return (
        F.when(F.length(cleaned) >= 7,
               F.when(typed, F.concat(first, F.lit("-"), rest))
                .otherwise(F.concat(F.lit("V-"), cleaned)))
        .otherwise(cleaned)
    )


# ------------------------------------------------------------------- F4
def gender_normalize(c: Column | str) -> Column:
    """'Masculino'→'M', 'Femenino'→'F', keep M/F, else '' —
    etl/transformers/data_transformer.py:246-253."""
    g = F.trim(_col(c))
    return (
        F.when(g == "Masculino", F.lit("M"))
        .when(g == "Femenino", F.lit("F"))
        .when(g.isin("M", "F"), g)
        .otherwise(F.lit(""))
    )


# ------------------------------------------------------------------- F5
_BUCKET_RE = r"gs://sibci-(devel|2f7fc)\.appspot\.com/?"


def bucket_url_rewrite(c: Column | str) -> Column:
    """Rewrite legacy GCS bucket prefixes to 'siscom_old/' —
    etl/transformers/field_mapper.py:370-390."""
    return F.regexp_replace(_col(c), _BUCKET_RE, "siscom_old/")


# ------------------------------------------------------------------- F7
def content_truncate(c: Column | str, max_len: int = 10000) -> Column:
    """Cap content length — etl/transformers/data_transformer.py:466-468."""
    return F.substring(_col(c), 1, max_len)


# ------------------------------------------------------------------- F8
def room_type(is_broadcast: Column | str, is_group: Column | str) -> Column:
    """isBroadcast→'broadcast', isGroup→'group', else 'p2p' —
    etl/transformers/field_mapper.py:360-368 (invalid type falls back to
    'p2p' per data_transformer.py:514-527)."""
    return (
        F.when(F.coalesce(_col(is_broadcast), F.lit(False)), F.lit("broadcast"))
        .when(F.coalesce(_col(is_group), F.lit(False)), F.lit("group"))
        .otherwise(F.lit("p2p"))
    )


# ------------------------------------------------------------------ F16
def path_depth(c: Column | str) -> Column:
    """Depth of a materialized path: '/'→0, '/a'→1, '/a/b'→2 —
    etl/orchestrator.py:778-783 (count of '/' with root special-cased)."""
    p = _col(c)
    return (
        F.when(p == "/", F.lit(0))
        .otherwise(F.size(F.split(p, "/")) - 1)
    )


# ------------------------------------------------------------------ F17
def full_path(parent: Column | str, name: Column | str) -> Column:
    """parent=='/' ? '/'+name : parent+'/'+name —
    etl/orchestrator.py:839-844."""
    p, n = _col(parent), _col(name)
    return F.when(p == "/", F.concat(F.lit("/"), n)).otherwise(
        F.concat(p, F.lit("/"), n)
    )


def parent_path(path: Column | str) -> Column:
    """Inverse of full_path: '/a/b' → '/a', '/a' → '/'."""
    p = _col(path)
    stripped = F.regexp_replace(p, "/[^/]+$", "")
    return F.when(stripped == "", F.lit("/")).otherwise(stripped)


# ------------------------------------------------------------------ F18
def composite_key(c1: Column | str, c2: Column | str) -> Column:
    """Composite lineage key f"{a}_{b}" — etl/orchestrator.py:1076,1082."""
    return F.concat_ws("_", _col(c1), _col(c2))


# ------------------------------------------------------------------ F19
def role_name_normalize(c: Column | str) -> Column:
    """Strip '_ROLE' suffix for role-by-name joins —
    etl/utils/id_mapper.py:110-117."""
    return F.regexp_replace(_col(c), "_ROLE$", "")


# ------------------------------------------------------------------ F20
def upper_role(c: Column | str) -> Column:
    """Uppercased member role, default 'MEMBER' —
    etl/transformers/field_mapper.py:161."""
    return F.upper(F.coalesce(_col(c), F.lit("member")))


# ------------------------------------------------------------------ F21
def mime_from_filetype(file_type: Column | str, url: Column | str) -> Column:
    """fileType → mime; DOCUMENTO only maps when url ends '.pdf', else
    NULL (caller drops the row, P7) —
    etl/transformers/data_transformer.py:425-444. The '.pdf' check is
    case-sensitive, matching both the reference (endswith('.pdf')) and
    the messages filter — a '.PDF' row is dropped by BOTH, never mapped
    by one and dropped by the other."""
    t, u = _col(file_type), _col(url)
    return (
        F.when(t == "IMAGEN", F.lit("image/png"))
        .when(t == "VIDEO", F.lit("video/mp4"))
        .when(t == "AUDIO", F.lit("audio/mp3"))
        .when((t == "DOCUMENTO") & u.endswith(".pdf"),
              F.lit("application/pdf"))
        .otherwise(F.lit(None))
    )


# ------------------------------------------------------------------ F27
def keyint_default(c: Column | str) -> Column:
    """Missing/empty keyInt → '0' — etl/utils/validators.py:158-163."""
    return F.coalesce(F.nullif(_col(c).cast("string"), F.lit("")), F.lit("0"))


# -------------------------------------------------- portable rounding
def stable_round(c: Column | str, digits: int) -> Column:
    """Engine-portable rounding for DOUBLES: floor(x·10^d + 0.5)/10^d.

    Spark's round() on a double goes through BigDecimal.valueOf — it
    rounds the value's SHORTEST DECIMAL REPR, so a binary value just
    below a half whose repr ends in '5' (e.g. 0.78575 stored as
    0.78574999…) rounds UP, while DuckDB rounds the binary value DOWN
    (found at sf0.1: quality 0.7858 vs 0.7857). This formula is the
    same IEEE multiply/add/floor/divide on both engines — identical
    results everywhere, half-up-toward-+inf ties. The trailing `+ 0.0`
    collapses IEEE negative zero. Use for every rounded DOUBLE output
    an oracle checks; plain round() is fine for DECIMAL (exact)."""
    s = 10 ** digits
    col = _col(c)
    return F.floor(col * F.lit(s) + F.lit(0.5)) / F.lit(s) + F.lit(0.0)


# ------------------------------------------------------------- P2 helper
def coalesce_nonempty(*cols: Column | str) -> Column:
    """First non-NULL, non-empty value — the field-name-drift coalescer
    (etl/transformers/field_mapper.py:29-61 uses `a or b` semantics,
    which treats '' as missing; plain F.coalesce would not)."""
    out = F.lit(None).cast("string")
    acc = None
    for c in cols:
        cc = _col(c)
        nn = F.nullif(cc, F.lit(""))
        acc = nn if acc is None else F.coalesce(acc, nn)
    return acc if acc is not None else out
