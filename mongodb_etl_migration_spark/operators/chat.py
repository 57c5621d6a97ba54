"""SFT / chat-data preparation operators.

Instruction-tuning corpora arrive as multi-turn conversations; before
any token reaches a loss function the pipeline must (1) normalize raw
text into role-tagged turns, (2) render each conversation through the
model's chat template, (3) compute the character spans the loss mask
keeps (train-on-assistant-only), (4) collapse duplicate conversations
(near-verbatim re-shares dominate public SFT dumps), and (5) report
per-source turn statistics for mixing decisions. The reference engine
stops at flat-document ETL (mongo_extractor.py / transform_engine.py
handle single-record projections); this family is the conversation-
shaped extension a training-data pipeline needs on top.

Scale shape: (1)-(3) are PURE PROJECTIONS — every turn derivation,
template render, and mask-offset fold is a per-row array expression
(transform / aggregate / filter over array<struct>), zero shuffle, no
UDF, fully inside whole-stage codegen. (4) and (5) each cost exactly
ONE hash exchange (the dedup groupBy / the stats groupBy). Nothing
here collects, so the family runs unchanged on a 100 TB conversation
dump.

Templates are DATA (:class:`ChatTemplate`): per turn the render emits
``pre_role + role + post_role + content + suffix`` wrapped in
``bos/eos`` — shipped presets "tagged" (the original
``<|role|>content<|end|>`` format, no newlines), "chatml", and
"llama3". The loss-mask spans are 0-based [start, end) character
offsets of each ASSISTANT turn's content inside the rendered string,
derived from the SAME template data, pinned by the invariant
``substring(rendered, start+1, end-start) == content``
(property-tested per preset). :func:`sft_tokens` lifts the mask to
TOKEN space — the artifact a trainer actually consumes — by encoding
each template/content segment separately through the real byte-level
BPE path (operators/text.py gpt2_*), so mask boundaries align with
token boundaries by construction and the masked token ids decode back
to exactly the assistant contents (oracle-checked).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


TURN_STRUCT = "array<struct<turn_idx:int,role:string,content:string>>"

#: Roles whose header encode constant-folds to a literal id array in
#: sft_tokens ('' is the NULL-role coalesce target). Any role outside
#: this set takes the dynamic per-turn encode chain — values identical.
_FOLDED_ROLES = ("", "assistant", "system", "user")
SPAN_STRUCT = "array<struct<turn_idx:int,span_start:bigint,span_end:bigint>>"
TOKSPAN_STRUCT = (
    "array<struct<turn_idx:int,tok_start:bigint,tok_end:bigint>>"
)


class ChatTemplate(NamedTuple):
    """A chat template as DATA: per turn the render emits
    ``pre_role + role + post_role + content + suffix``; the whole
    conversation is wrapped ``bos + turns... + eos``. Render AND mask
    arithmetic both derive from these five strings, so a template can
    never disagree with its own offsets — the failure mode of
    hand-synced format strings (real templates differ exactly here:
    ChatML's newlines, Llama's header tags and BOS)."""

    pre_role: str
    post_role: str
    suffix: str
    bos: str = ""
    eos: str = ""


#: Shipped presets. "tagged" is the engine's original wire format
#: (offsets byte==char, no newlines); "chatml" is the OpenAI ChatML
#: convention (<|im_start|>role\n ... <|im_end|>\n); "llama3" is the
#: Llama-3-style header framing with a BOS sentinel. System turns need
#: no special casing: a system role renders through the same
#: pre_role/post_role framing in every preset, and the assistant-only
#: mask ignores it by role.
CHAT_TEMPLATES: dict[str, ChatTemplate] = {
    "tagged": ChatTemplate("<|", "|>", "<|end|>"),
    "chatml": ChatTemplate("<|im_start|>", "\n", "<|im_end|>\n"),
    "llama3": ChatTemplate(
        "<|start_header_id|>",
        "<|end_header_id|>\n\n",
        "<|eot_id|>",
        bos="<|begin_of_text|>",
    ),
}


def resolve_template(template: ChatTemplate | str) -> ChatTemplate:
    """Preset name -> ChatTemplate (identity on an explicit template);
    unknown names refuse loudly with the shipped preset list."""
    if isinstance(template, str):
        if template not in CHAT_TEMPLATES:
            raise ValueError(
                f"unknown chat template {template!r}; shipped presets: "
                f"{sorted(CHAT_TEMPLATES)}"
            )
        return CHAT_TEMPLATES[template]
    return template


def parse_turns(
    text_col: Column | str = "text",
    turn_words: int = 6,
) -> Column:
    """Role-tagged turns from flat text: whitespace words chunked into
    ``turn_words``-word turns, roles alternating user/assistant from
    user. Deterministic data→data (the fixture derivation for corpora
    that arrive flat; corpora that arrive structured skip straight to
    the render/mask/dedup stages, which only see the turns array).

    Returns a COLUMN (``array<struct<turn_idx,role,content>>``) so
    callers compose it into their own projection — zero shuffle, no
    UDF. Empty/whitespace-only text yields an empty turns array, not
    a single empty turn.
    """
    text = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.split(F.trim(text), r"\s+")
    n_turns = F.ceil(F.size(words) / F.lit(turn_words)).cast("int")
    turns = F.transform(
        F.sequence(F.lit(0), n_turns - F.lit(1)),
        lambda i: F.struct(
            i.cast("int").alias("turn_idx"),
            F.when(i % 2 == 0, F.lit("user"))
            .otherwise(F.lit("assistant"))
            .alias("role"),
            F.array_join(
                F.slice(words, i * turn_words + 1, turn_words), " "
            ).alias("content"),
        ),
    )
    return F.when(F.length(F.trim(text)) > 0, turns).otherwise(
        F.array().cast(TURN_STRUCT)
    )


_MSG_SCHEMA = "array<struct<role:string,content:string>>"


def parse_turns_json(json_col: Column | str) -> Column:
    """Role-tagged turns from messages-JSON — the shape real SFT dumps
    arrive in (``[{"role": "user", "content": "..."}, ...]``; extra
    keys are ignored by the schema projection). Returns the same
    ``TURN_STRUCT`` array parse_turns produces, so render/mask/dedup/
    pairs run unchanged on structured data.

    turn_idx comes from ARRAY POSITION (the dump's message order),
    never from a field in the payload — a hostile or buggy producer
    cannot reorder the loss mask. Degrades loudly-but-safely:
    malformed JSON / a scalar payload / NULL input parse to NULL and
    coalesce to an EMPTY conversation (the parse_turns empty-text
    convention); a bare message OBJECT parses as a one-message
    conversation (Spark's from_json wraps a lone object to match an
    array schema — tested); a NULL array element or missing
    role/content keys yield NULL fields, which the downstream family
    handles (render/mask coalesce to '', the dedup key hashes the
    chr(0) sentinel). Pure projection: from_json + transform, zero
    shuffle, no UDF — ingesting 100 TB of message dumps is a map."""
    j = F.col(json_col) if isinstance(json_col, str) else json_col
    arr = F.coalesce(
        F.from_json(j, _MSG_SCHEMA), F.array().cast(_MSG_SCHEMA)
    )
    return F.transform(
        arr,
        lambda x, i: F.struct(
            i.cast("int").alias("turn_idx"),
            x["role"].alias("role"),
            x["content"].alias("content"),
        ),
    )


def render_chat(
    turns: Column | str, template: ChatTemplate | str = "tagged"
) -> Column:
    """Chat-template render: one string per conversation,
    ``pre_role + role + post_role + content + suffix`` per turn in
    turn order, the whole wrapped ``bos ... eos`` — the default
    "tagged" preset is the original ``<|role|>content<|end|>`` wire
    format; "chatml"/"llama3" are the production conventions. A
    single aggregate fold over the turns array — per-row, zero
    shuffle, no UDF, regardless of template.

    NULL content (possible from structured sources, never from
    parse_turns) renders as the empty string, so one NULL turn cannot
    NULL-poison the whole rendered conversation via concat. (The
    dedup key keeps its chr(0) sentinel — NULL and '' stay distinct
    identities there; here the rendered TEXT is the product and ''
    is the only renderable degrade.)"""
    tpl = resolve_template(template)
    t = F.col(turns) if isinstance(turns, str) else turns
    body = F.aggregate(
        t,
        F.lit(tpl.bos),
        lambda acc, x: F.concat(
            acc,
            F.lit(tpl.pre_role),
            F.coalesce(x["role"], F.lit("")),
            F.lit(tpl.post_role),
            F.coalesce(x["content"], F.lit("")),
            F.lit(tpl.suffix),
        ),
    )
    return F.concat(body, F.lit(tpl.eos)) if tpl.eos else body


def loss_mask_spans(
    turns: Column | str, template: ChatTemplate | str = "tagged"
) -> Column:
    """Train-on-assistant-only mask: 0-based [start, end) char offsets
    of each assistant turn's CONTENT inside ``render_chat``'s output
    FOR THE SAME TEMPLATE. One aggregate fold carrying
    (running_offset, spans) — the offsets come out of the same
    template data the render consumes (header = len(pre_role) +
    len(role) + len(post_role), footer = len(suffix), initial offset
    = len(bos)), so ``substring(rendered, start+1, end-start) ==
    content`` holds by construction for EVERY template (and by test
    for each shipped preset). Per-row, zero shuffle, no UDF.

    NULL role/content count as length 0 — mirroring render_chat's
    coalesce — so offsets stay aligned with the rendered string even
    when a structured source carries NULL turns."""
    tpl = resolve_template(template)
    hdr_fixed = len(tpl.pre_role) + len(tpl.post_role)
    footer = len(tpl.suffix)
    t = F.col(turns) if isinstance(turns, str) else turns
    zero = F.struct(
        F.lit(len(tpl.bos)).cast("bigint").alias("off"),
        F.array().cast(SPAN_STRUCT).alias("spans"),
    )

    def step(acc: Column, x: Column) -> Column:
        start = (
            acc["off"]
            + F.length(F.coalesce(x["role"], F.lit("")))
            + F.lit(hdr_fixed)
        )
        end = start + F.length(F.coalesce(x["content"], F.lit("")))
        span = F.struct(
            x["turn_idx"].alias("turn_idx"),
            start.cast("bigint").alias("span_start"),
            end.cast("bigint").alias("span_end"),
        )
        return F.struct(
            (end + F.lit(footer)).cast("bigint").alias("off"),
            F.when(
                x["role"] == "assistant",
                F.concat(acc["spans"], F.array(span)),
            )
            .otherwise(acc["spans"])
            .alias("spans"),
        )

    return F.aggregate(t, zero, step, lambda acc: acc["spans"])


def special_token_ids(
    merges: list[tuple[str, str]], tokens: list[str]
) -> dict[str, int]:
    """Reserve SINGLE ids for template control strings AFTER the BPE
    id space — GPT-2's own convention (vocab.json appends
    <|endoftext|> = 50256 after the 256-byte alphabet + 50k merges):
    token k gets id 256 + len(merges) + k. Duplicates refuse."""
    if len(set(tokens)) != len(tokens):
        raise ValueError(f"duplicate special tokens in {tokens!r}")
    base = 256 + len(merges)
    return {t: base + k for k, t in enumerate(tokens)}


def _encode_constant(
    s: str,
    merges: list[tuple[str, str]],
    special_ids: dict[str, int] | None,
) -> list[int]:
    """Driver-side encode of a CONSTANT template piece: longest-first
    greedy scan for special tokens, byte-level BPE for the text
    between them (the published tokenizer convention — specials are
    never split, surrounding text encodes normally)."""
    from .text import gpt2_apply_reference, gpt2_vocab

    vocab = gpt2_vocab(merges)

    def enc(t: str) -> list[int]:
        return [vocab[sym] for sym in gpt2_apply_reference(t, merges)]

    if not special_ids:
        return enc(s)
    out: list[int] = []
    i, n = 0, len(s)
    specials = sorted(special_ids, key=len, reverse=True)
    plain_start = 0
    while i < n:
        hit = next((t for t in specials if s.startswith(t, i)), None)
        if hit is not None:
            if plain_start < i:
                out.extend(enc(s[plain_start:i]))
            out.append(special_ids[hit])
            i += len(hit)
            plain_start = i
        else:
            i += 1
    if plain_start < n:
        out.extend(enc(s[plain_start:]))
    return out


def sft_tokens(
    turns: str,
    merges: list[tuple[str, str]],
    template: ChatTemplate | str = "tagged",
    special_ids: dict[str, int] | None = None,
) -> Column:
    """TOKEN-SPACE loss mask — the artifact an SFT trainer actually
    consumes: ``struct<token_ids array<int>, mask_spans
    array<struct<turn_idx,tok_start,tok_end>>>`` where token_ids is
    the rendered conversation encoded through the REAL byte-level BPE
    path (text.gpt2_token_ids' chain) and mask_spans are 0-based
    [tok_start, tok_end) TOKEN-INDEX spans covering each assistant
    turn's content.

    Each template piece and each content is encoded as its OWN
    segment — ``encode(bos) + per turn [encode(pre_role+role+
    post_role), encode(content), encode(suffix)] + encode(eos)`` —
    the convention production SFT renderers use (HF chat templates
    tokenize message-wise), and the construction that makes the mask
    PROVABLE: token boundaries can never straddle a mask edge, so the
    masked ids decode back to exactly the assistant contents
    (text.gpt2_decode_ascii; pinned by the c_sft_tokens oracle and a
    property test). Inline whole-string encoding cannot promise this
    — a pretoken can span punctuation at a content/suffix boundary.

    ``turns`` names the turns column (a dotted name is a struct field,
    as under ``F.col``). The expression is built as ONE parsed SQL
    string: the Column-API build of the two per-turn encode chains
    cost ~4,400 py4j round-trips per construction (r14 cProfile
    receipt).

    Plan shape: constant segments (bos/suffix/eos) are encoded
    DRIVER-SIDE into literal id arrays; per-turn header/content
    encodes run inside ONE ``transform`` over the turns array (each
    encode chain referenced exactly once — lambda bodies sit outside
    codegen CSE), then ONE aggregate fold accumulates ids and spans.
    Pure projection: zero shuffle, zero UDF, any corpus size. ASCII
    scope (gpt2_token_ids' documented boundary — OOV symbols yield
    NULL ids, counted by the caller).

    NULL role/content encode as '' (mirroring render_chat); a NULL
    role is never masked (same rule as loss_mask_spans).

    ``special_ids`` (e.g. :func:`special_token_ids`) reserves SINGLE
    ids for template control strings — the production convention
    (ChatML's <|im_start|> is one token, never BPE'd): constant
    pieces encode via a longest-first special scan, and the header
    becomes [pre ids] + encode(role) + [post ids] (the role is data
    and still BPE-encodes). Without it, behavior is unchanged —
    template text BPE-encodes like any text."""
    from .text import _sql_str, gpt2_token_ids_sql, sql_ident, sql_int_array

    tpl = resolve_template(template)

    def const_ids(s: str) -> list[int]:
        return _encode_constant(s, merges, special_ids)

    bos_ids = const_ids(tpl.bos)
    sfx_ids = const_ids(tpl.suffix)
    eos_ids = const_ids(tpl.eos)

    role_sql = "coalesce(__ct.role, '')"
    # Header-encode CONSTANT FOLD (r15): real corpora have ~3
    # distinct roles, yet the dynamic form re-runs the whole
    # merge chain (|merges| × 4 replace passes) on
    # pre_role+role+post_role for EVERY turn — at sf0.1 the
    # header was ~40% of c_sft's per-turn encode CPU. The known
    # roles fold to literal id arrays via the SAME driver-side
    # exact encoder already trusted for bos/suffix/eos
    # (_encode_constant — reference==chain is property-tested);
    # any other role takes the unchanged dynamic chain through
    # the CASE's else, so values are identical for ALL inputs.
    if special_ids:
        pre_ids = const_ids(tpl.pre_role)
        post_ids = const_ids(tpl.post_role)
        hdr_dyn = (
            f"concat({sql_int_array(pre_ids)}, "
            f"{gpt2_token_ids_sql(role_sql, merges)}, "
            f"{sql_int_array(post_ids)})"
        )
        # role is DATA: plain BPE (no special scan), like the
        # dynamic gpt2_token_ids it replaces
        hdr_folds = {
            r: pre_ids + _encode_constant(r, merges, None) + post_ids
            for r in _FOLDED_ROLES
        }
    else:
        hdr_dyn = gpt2_token_ids_sql(
            f"concat({_sql_str(tpl.pre_role)}, "
            f"{role_sql}, {_sql_str(tpl.post_role)})",
            merges,
        )
        hdr_folds = {
            r: const_ids(tpl.pre_role + r + tpl.post_role)
            for r in _FOLDED_ROLES
        }
    whens = " ".join(
        f"when {_sql_str(r)} then {sql_int_array(ids)}"
        for r, ids in hdr_folds.items()
    )
    hdr = f"(case {role_sql} {whens} else {hdr_dyn} end)"
    cnt = gpt2_token_ids_sql("coalesce(__ct.content, '')", merges)
    enc_sql = (
        f"transform({sql_ident(turns)}, __ct -> named_struct("
        f"'turn_idx', __ct.turn_idx, "
        f"'is_assistant', (__ct.role = 'assistant'), "
        f"'hdr', {hdr}, 'cnt', {cnt}))"
    )
    zero_sql = (
        f"named_struct('ids', {sql_int_array(bos_ids)}, "
        f"'spans', cast(array() as {TOKSPAN_STRUCT}))"
    )
    start_sql = "cast((size(__acc.ids) + size(__cx.hdr)) as bigint)"
    end_sql = f"{start_sql} + cast(size(__cx.cnt) as bigint)"
    span_sql = (
        f"named_struct('turn_idx', __cx.turn_idx, "
        f"'tok_start', {start_sql}, 'tok_end', {end_sql})"
    )
    step_sql = (
        f"named_struct('ids', concat(__acc.ids, __cx.hdr, __cx.cnt, "
        f"{sql_int_array(sfx_ids)}), "
        f"'spans', case when __cx.is_assistant "
        f"then concat(__acc.spans, array({span_sql})) "
        f"else __acc.spans end)"
    )
    finish_sql = (
        f"named_struct('token_ids', concat(__fa.ids, "
        f"{sql_int_array(eos_ids)}), 'mask_spans', __fa.spans)"
    )
    return F.expr(
        f"aggregate({enc_sql}, {zero_sql}, "
        f"(__acc, __cx) -> {step_sql}, __fa -> {finish_sql})"
    )


def pack_sft_bestfit(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    spans_col: str,
    seq_len: int = 1024,
    n_buckets: int = 32,
) -> DataFrame:
    """Pack SFT examples (token ids + token-space mask spans, i.e.
    :func:`sft_tokens`' output) into fixed ``seq_len`` training bins
    with the masks REMAPPED to bin offsets — the final trainer-ready
    artifact: the chat family, the tokenizer, and the
    fewer-truncations packer composed end to end.

    Semantics: whole conversations only (packing never splits an
    example — the reason best-fit exists); a conversation LONGER than
    seq_len is truncated to exactly seq_len with its spans clipped
    ([start, end) ∩ [0, seq_len), empty clips dropped) and flagged —
    it then fills one bin alone, which best-fit handles with no
    special case (an item of size seq_len fits only a fresh bin).
    Placement is text.bfd_bins_fold (size desc, fullest-that-fits,
    deterministic ties) per deterministic id-bucket.

    Output per bin: (bucket, bin_idx, n_tokens, n_examples,
    n_truncated, token_ids, mask_spans 'doc:turn:start:end' in BIN
    coordinates, doc_spans 'doc:start:end' — the example-boundary
    map an attention-mask/packing-aware trainer needs). Plan: the
    truncation/clip is a projection; ONE exchange (the bucket
    groupBy); the BFD fold and the offset-remapping assembly are
    per-row array expressions over the collected bucket — the same
    bounded-bucket rule as every packer here. Zero UDF."""
    if seq_len < 1 or n_buckets < 1:
        raise ValueError("seq_len and n_buckets must be >= 1")
    # id_col feeds the bucket pmod AND the doc labels in mask_spans/
    # doc_spans; a non-numeric id would cast to NULL and silently
    # produce a NULL bucket + NULL labels — refuse loudly instead
    # (the bm25_index column-collision rule applied to types).
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    id_type_obj = df.schema[id_col].dataType
    if not isinstance(id_type_obj, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"pack_sft_bestfit needs an integral {id_col!r} (got "
            f"{id_type_obj.simpleString()}) — ids label mask_spans/"
            "doc_spans and drive the bucket pmod; map ids to bigint "
            "first (e.g. keys.sequential_ids)"
        )
    from .text import bfd_bins_fold

    raw_toks = F.col(tokens_col).cast("array<int>")
    # a NULL ELEMENT (an OOV id from the Column-path encoder) would be
    # counted by size() but dropped by array_join — n_tokens and the
    # emitted id list would silently disagree. Refuse loudly at pack
    # time (the gpt2_token_ids loss-accounting rule): callers drop or
    # byte-fallback OOV rows BEFORE packing.
    toks = F.coalesce(
        F.when(
            F.exists(raw_toks, lambda x: x.isNull()),
            F.raise_error(
                F.lit(
                    "pack_sft_bestfit: NULL token id (OOV) in "
                    f"{tokens_col!r} — filter or byte-fallback OOV "
                    "rows before packing"
                )
            ).cast("array<int>"),
        ).otherwise(raw_toks),
        F.array().cast("array<int>"),
    )
    spans = F.coalesce(
        F.col(spans_col).cast(TOKSPAN_STRUCT),
        F.array().cast(TOKSPAN_STRUCT),
    )
    overlong = F.size(toks) > seq_len
    cut = F.when(overlong, F.slice(toks, 1, seq_len)).otherwise(toks)
    clipped = F.when(
        overlong,
        F.filter(
            F.transform(
                spans,
                lambda s: F.struct(
                    s["turn_idx"].alias("turn_idx"),
                    s["tok_start"].alias("tok_start"),
                    F.least(s["tok_end"], F.lit(seq_len).cast("bigint")).alias(
                        "tok_end"
                    ),
                ),
            ),
            lambda s: s["tok_start"] < s["tok_end"],
        ),
    ).otherwise(spans)
    items = df.select(
        F.pmod(F.col(id_col).cast("bigint"), F.lit(n_buckets)).alias(
            "bucket"
        ),
        F.struct(
            (-F.size(cut)).cast("int").alias("szneg"),
            F.col(id_col).cast("bigint").alias("d"),
            overlong.cast("int").alias("trunc"),
            cut.alias("toks"),
            clipped.alias("spans"),
        ).alias("it"),
    )
    collected = items.groupBy("bucket").agg(
        F.array_sort(F.collect_list("it")).alias("items")
    )
    step1 = collected.select(
        "bucket",
        "items",
        bfd_bins_fold(F.col("items"), seq_len).alias("__bins"),
    )

    # per bin, fold over the placed refs carrying the running offset:
    # ids concatenate; every span and the example boundary shift by
    # the item's bin offset (= size of ids already placed)
    asm_zero = F.struct(
        F.array().cast("array<int>").alias("ids"),
        F.array().cast("array<string>").alias("sp"),
        F.array().cast("array<string>").alias("ds"),
        F.lit(0).cast("int").alias("ntr"),
    )

    def asm_step(acc: Column, r: Column) -> Column:
        it = F.element_at(F.col("items"), r + 1)
        base = F.size(acc["ids"]).cast("bigint")
        return F.struct(
            F.concat(acc["ids"], it["toks"]).alias("ids"),
            F.concat(
                acc["sp"],
                F.transform(
                    it["spans"],
                    lambda s: F.concat_ws(
                        ":",
                        it["d"].cast("string"),
                        s["turn_idx"].cast("string"),
                        (base + s["tok_start"]).cast("string"),
                        (base + s["tok_end"]).cast("string"),
                    ),
                ),
            ).alias("sp"),
            F.concat(
                acc["ds"],
                F.array(
                    F.concat_ws(
                        ":",
                        it["d"].cast("string"),
                        base.cast("string"),
                        (base + F.size(it["toks"])).cast("string"),
                    )
                ),
            ).alias("ds"),
            (acc["ntr"] + it["trunc"]).alias("ntr"),
        )

    assembled = F.transform(
        F.col("__bins"),
        lambda b: F.aggregate(
            b["refs"],
            asm_zero,
            asm_step,
            lambda acc: F.struct(
                F.size(acc["ids"]).cast("bigint").alias("n_tokens"),
                F.size(b["refs"]).cast("bigint").alias("n_examples"),
                acc["ntr"].cast("bigint").alias("n_truncated"),
                F.array_join(
                    F.transform(acc["ids"], lambda i: i.cast("string")),
                    " ",
                ).alias("token_ids"),
                F.array_join(acc["sp"], ",").alias("mask_spans"),
                F.array_join(acc["ds"], ",").alias("doc_spans"),
            ),
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
        F.col("col.n_examples").alias("n_examples"),
        F.col("col.n_truncated").alias("n_truncated"),
        F.col("col.token_ids").alias("token_ids"),
        F.col("col.mask_spans").alias("mask_spans"),
        F.col("col.doc_spans").alias("doc_spans"),
    )


def assistant_transcript_key(turns: Column | str) -> Column:
    """Conversation-dedup key: md5 over the PER-TURN md5s of the
    assistant contents, concatenated in turn order. Dedup on what the
    model would be TRAINED on — user-side paraphrases of the same
    answer set collapse, which is the duplication mode SFT dumps
    actually have.

    Hash-then-join, never join-then-hash: raw contents joined with a
    separator alias (["x|y"] vs ["x","y"] under '|') — the same
    separator trap epoch_shuffle's key guards against. Per-element
    md5s are fixed 32-hex tokens, so their bare concatenation is
    unambiguous. A NULL content (impossible from parse_turns,
    possible from structured sources) hashes as md5(chr(0)) rather
    than being silently skipped by array_join. Contents are taken in
    array order (parse_turns builds the array in turn_idx order;
    structured sources must sort first)."""
    t = F.col(turns) if isinstance(turns, str) else turns
    assistant = F.filter(t, lambda x: x["role"] == "assistant")
    return F.md5(
        F.array_join(
            F.transform(
                assistant,
                lambda x: F.md5(F.coalesce(x["content"], F.lit("\x00"))),
            ),
            "",
        )
    )


def conversation_dedup(
    conv: DataFrame,
    turns_col: str = "turns",
    id_col: str = "doc_id",
) -> DataFrame:
    """First-wins conversation dedup: group by the assistant-transcript
    key, keep min(id). Output: (conv_key, kept_id, n_dups). Exactly
    ONE exchange (the key groupBy); the key itself is a projection."""
    keyed = conv.select(
        F.col(id_col),
        assistant_transcript_key(turns_col).alias("conv_key"),
    )
    return keyed.groupBy("conv_key").agg(
        F.min(id_col).cast("bigint").alias("kept_id"),
        F.count("*").cast("bigint").alias("n_dups"),
    )


def conv_dedup_probe(
    batch: DataFrame,
    index: DataFrame,
    turns_col: str = "turns",
    id_col: str = "doc_id",
) -> DataFrame:
    """Which NEW conversations already exist in history: key the batch
    (per-row projection), inner-join the persisted index on conv_key
    with the BATCH side broadcast — only the ingest batch is ever
    keyed or moved; the corpus-sized index is scanned but never
    shuffled (the duplicated_spans_probe plan rule, pinned in tests).
    Output: (id_new, conv_key, kept_id, n_dups_hist) — one row per
    batch conversation whose assistant transcript is already indexed;
    absent rows are genuinely new."""
    keyed = batch.select(
        F.col(id_col).alias("id_new"),
        assistant_transcript_key(turns_col).alias("conv_key"),
    )
    return F.broadcast(keyed).join(index, "conv_key").select(
        "id_new",
        "conv_key",
        F.col("kept_id"),
        F.col("n_dups").alias("n_dups_hist"),
    )


def user_transcript_key(turns: Column | str) -> Column:
    """Prompt identity for preference-pair grouping: md5 over the
    PER-TURN md5s of the USER contents in turn order (hash-then-join,
    same aliasing discipline as assistant_transcript_key). Two
    conversations answering the SAME prompts — however differently —
    share this key."""
    t = F.col(turns) if isinstance(turns, str) else turns
    user = F.filter(t, lambda x: x["role"] == "user")
    return F.md5(
        F.array_join(
            F.transform(
                user,
                lambda x: F.md5(F.coalesce(x["content"], F.lit("\x00"))),
            ),
            "",
        )
    )


def preference_pairs(
    conv: DataFrame,
    score_col: str,
    turns_col: str = "turns",
    id_col: str = "doc_id",
) -> DataFrame:
    """DPO/RLHF preference-pair construction: group conversations by
    PROMPT identity (the user transcript), emit (chosen, rejected) =
    (highest, lowest) scoring answer set per prompt — the reward-free
    preference dataset shape (Rafailov et al.'s DPO; also RLHF reward-
    model training pairs). Groups with a single conversation have
    nothing to compare and emit nothing.

    Deterministic extremes via struct min/max — chosen = max score
    (tie: smallest id), rejected = min score (tie: LARGEST id), so a
    group of identical scores still yields a distinct, stable pair.
    ``score_col`` is caller-supplied (integer quality: assistant mass,
    classifier margin, human rating) — scoring policy stays outside
    the operator.

    Plan: the prompt key is a per-row projection; exactly ONE exchange
    (the key groupBy, min/max partial-aggregate map-side). Output:
    (prompt_key, n_candidates, chosen_id, rejected_id,
    score_margin) — margin in the score's own units, integer-exact.
    """
    keyed = conv.select(
        F.col(id_col).alias("__id"),
        F.col(score_col).alias("__score"),
        user_transcript_key(turns_col).alias("prompt_key"),
    )
    g = keyed.groupBy("prompt_key").agg(
        F.count("*").cast("bigint").alias("n_candidates"),
        F.min(
            F.struct((-F.col("__score")).alias("ns"), F.col("__id").alias("i"))
        ).alias("__ch"),
        F.max(
            F.struct((-F.col("__score")).alias("ns"), F.col("__id").alias("i"))
        ).alias("__rj"),
    )
    return g.filter(F.col("n_candidates") >= 2).select(
        "prompt_key",
        "n_candidates",
        F.col("__ch.i").cast("bigint").alias("chosen_id"),
        F.col("__rj.i").cast("bigint").alias("rejected_id"),
        (F.col("__rj.ns") - F.col("__ch.ns")).cast("bigint").alias(
            "score_margin"
        ),
    )
