"""Plain-Python references that more than one test module compares
the engine against."""

from __future__ import annotations

from mongodb_etl_migration_spark.operators import chat as CH
from mongodb_etl_migration_spark.operators import text as T


def sft_tokens_reference(
    turns,
    merges: list[tuple[str, str]],
    template: CH.ChatTemplate | str = "tagged",
    special_ids: dict[str, int] | None = None,
) -> tuple[list[int], list[tuple[int, int, int]]]:
    """``chat.sft_tokens`` for one conversation, per turn over
    ``text.gpt2_apply_reference``: (token ids, [(turn_idx, tok_start,
    tok_end)] over the assistant contents)."""
    tpl = CH.resolve_template(template)
    vocab = T.gpt2_vocab(merges)
    rank = {pair: i for i, pair in enumerate(merges)}

    def seg_ids(s: str) -> list[int]:
        return [vocab[sym] for sym in T.gpt2_apply_reference(s, merges, rank)]

    def const(s: str) -> list[int]:
        return CH._encode_constant(s, merges, special_ids)

    ids = const(tpl.bos)
    spans = []
    for x in turns or []:
        role = x["role"] or ""
        content = x["content"] or ""
        hdr = (
            const(tpl.pre_role) + seg_ids(role) + const(tpl.post_role)
            if special_ids
            else seg_ids(tpl.pre_role + role + tpl.post_role)
        )
        cnt = seg_ids(content)
        start = len(ids) + len(hdr)
        ids += hdr + cnt + const(tpl.suffix)
        if x["role"] == "assistant":
            spans.append((x["turn_idx"], start, start + len(cnt)))
    return ids + const(tpl.eos), spans
