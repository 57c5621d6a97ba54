"""SFT / chat-data operators (operators/chat.py): turn parsing,
template rendering, loss-mask offsets, conversation dedup."""
from __future__ import annotations

from pyspark.sql import functions as F

from mongodb_etl_migration_spark.operators import chat as CH
from mongodb_etl_migration_spark.queries import QUERIES


def _conv(spark, rows, turn_words=6):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return df.select(
        "doc_id", CH.parse_turns("text", turn_words=turn_words).alias("turns")
    )


def test_parse_turns_chunking_and_roles(spark):
    rows = [(1, "a b c d e f g h i j k l m")]  # 13 words -> 3 turns of 6/6/1
    out = _conv(spark, rows).collect()[0]["turns"]
    assert [t["turn_idx"] for t in out] == [0, 1, 2]
    assert [t["role"] for t in out] == ["user", "assistant", "user"]
    assert out[0]["content"] == "a b c d e f"
    assert out[1]["content"] == "g h i j k l"
    assert out[2]["content"] == "m"


def test_parse_turns_empty_and_whitespace_text(spark):
    rows = [(1, ""), (2, "   "), (3, "x")]
    got = {r["doc_id"]: r["turns"] for r in _conv(spark, rows).collect()}
    assert got[1] == [] and got[2] == []
    assert len(got[3]) == 1 and got[3][0]["content"] == "x"


def test_parse_turns_collapses_runs_of_whitespace(spark):
    rows = [(1, "  a \t b\n\nc  ")]
    out = _conv(spark, rows).collect()[0]["turns"]
    assert len(out) == 1 and out[0]["content"] == "a b c"


def test_render_matches_template(spark):
    rows = [(1, "a b c d e f g h")]
    r = (
        _conv(spark, rows)
        .select(CH.render_chat("turns").alias("rendered"))
        .collect()[0]["rendered"]
    )
    assert r == "<|user|>a b c d e f<|end|><|assistant|>g h<|end|>"


def test_loss_mask_spans_slice_back_to_content(spark):
    """The load-bearing invariant: every span, applied to the rendered
    string, recovers exactly the assistant turn's content — checked
    over real sf0.001 documents, not a toy row."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    conv = docs.select(
        "doc_id", CH.parse_turns("text", turn_words=6).alias("turns")
    )
    checked = conv.select(
        "doc_id",
        CH.render_chat("turns").alias("rendered"),
        F.filter("turns", lambda t: t["role"] == "assistant").alias("at"),
        CH.loss_mask_spans("turns").alias("spans"),
    ).select(
        "doc_id",
        F.size("spans").alias("n_spans"),
        F.size("at").alias("n_assistant"),
        F.aggregate(
            F.zip_with(
                "spans",
                "at",
                lambda s, t: (
                    F.substring(
                        F.col("rendered"),
                        (s["span_start"] + 1).cast("int"),
                        (s["span_end"] - s["span_start"]).cast("int"),
                    )
                    == t["content"]
                ).cast("int"),
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        ).alias("n_ok"),
    )
    bad = checked.filter(
        (F.col("n_spans") != F.col("n_assistant"))
        | (F.col("n_ok") != F.col("n_spans"))
    ).count()
    assert bad == 0
    total = checked.agg(F.sum("n_spans")).collect()[0][0]
    assert total > 0  # the invariant actually exercised something


def test_loss_mask_skips_user_turns(spark):
    rows = [(1, "a b c d e f g h i j k l m")]  # u/a/u
    spans = (
        _conv(spark, rows)
        .select(F.explode(CH.loss_mask_spans("turns")).alias("s"))
        .select("s.*")
        .collect()
    )
    assert [s["turn_idx"] for s in spans] == [1]
    # "<|user|>a b c d e f<|end|><|assistant|>" = 8+11+7+13 chars
    assert spans[0]["span_start"] == 39
    assert spans[0]["span_end"] == 39 + len("g h i j k l")


def test_conversation_dedup_collapses_shared_assistant_transcript(spark):
    # B paraphrases every USER turn of A but keeps assistant turns:
    # must share a key. C changes one assistant word: must not.
    a = "u1 u1 u1 u1 u1 u1 ans one two three four five u2 u2 u2 u2 u2 u2 ans six seven eight nine ten"
    b = "q1 q1 q1 q1 q1 q1 ans one two three four five q2 q2 q2 q2 q2 q2 ans six seven eight nine ten"
    c = a.replace("seven", "SEVEN")
    conv = _conv(spark, [(1, a), (2, b), (3, c)])
    out = {r["kept_id"]: r["n_dups"] for r in CH.conversation_dedup(conv).collect()}
    assert out == {1: 2, 3: 1}


def test_conversation_dedup_single_turn_docs_key_on_empty(spark):
    # docs with no assistant turn all share the md5('') key
    conv = _conv(spark, [(5, "only one turn here"), (9, "another short doc")])
    rows = CH.conversation_dedup(conv).collect()
    assert len(rows) == 1 and rows[0]["kept_id"] == 5 and rows[0]["n_dups"] == 2


def test_chat_render_plan_zero_exchanges(spark, sf_dir):
    """Rendering + masking are per-row folds: the whole c_chat_render
    plan must contain NO exchange (a 100 TB render is a map)."""
    plan = (
        QUERIES["c_chat_render"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_conv_dedup_plan_single_exchange(spark, sf_dir):
    plan = (
        QUERIES["c_conv_dedup"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange ") == 1


def test_transcript_key_no_separator_aliasing(spark):
    # ["x|y"] vs ["x","y"]: join-then-hash would collide; the
    # hash-then-join key must not (the epoch_shuffle separator trap)
    schema = (
        "doc_id long, turns array<struct<turn_idx:int,role:string,"
        "content:string>>"
    )
    df = spark.createDataFrame(
        [
            (1, [(0, "assistant", "x|y")]),
            (2, [(0, "assistant", "x"), (1, "assistant", "y")]),
        ],
        schema,
    )
    assert CH.conversation_dedup(df).count() == 2


def _scored_conv(spark, rows):
    # rows: (doc_id, prompt, score) — identical prompt => same group
    df = spark.createDataFrame(rows, "doc_id long, prompt string, score long")
    return df.select(
        "doc_id",
        "score",
        CH.parse_turns("prompt", turn_words=6).alias("turns"),
    )


def test_preference_pairs_extremes_and_tie_breaks(spark):
    conv = _scored_conv(
        spark,
        [
            (1, "how do i do it", 5),
            (2, "how do i do it", 9),
            (3, "how do i do it", 9),  # ties chosen -> id 2
            (4, "how do i do it", 1),
            (5, "how do i do it", 1),  # ties rejected -> id 5
            (9, "a different prompt here", 100),  # singleton: dropped
        ],
    )
    rows = CH.preference_pairs(conv, "score").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["chosen_id"], r["rejected_id"]) == (2, 5)
    assert r["score_margin"] == 8 and r["n_candidates"] == 5


def test_preference_pairs_all_equal_scores_stable_pair(spark):
    conv = _scored_conv(
        spark, [(7, "same prompt twice ok", 3), (4, "same prompt twice ok", 3)]
    )
    rows = CH.preference_pairs(conv, "score").collect()
    assert len(rows) == 1
    assert rows[0]["chosen_id"] == 4 and rows[0]["rejected_id"] == 7
    assert rows[0]["score_margin"] == 0


def test_preference_pairs_plan_single_exchange(spark, sf_dir):
    plan = (
        QUERIES["c_dpo_pairs"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange ") == 1


def test_null_turn_content_renders_empty_and_mask_stays_aligned(spark):
    """Structured sources can carry NULL role/content (parse_turns
    never emits them). render_chat/loss_mask_spans must degrade the
    NULL to '' — one NULL turn must not NULL-poison the rendered
    string or the downstream offsets — while the dedup key keeps its
    chr(0) sentinel (NULL and '' remain distinct identities)."""
    df = spark.createDataFrame(
        [(1,)], "doc_id long"
    ).select(
        "doc_id",
        F.expr(
            "array(named_struct('turn_idx', 0, 'role', 'user',"
            " 'content', 'hi'),"
            " named_struct('turn_idx', 1, 'role', 'assistant',"
            " 'content', cast(null as string)),"
            " named_struct('turn_idx', 2, 'role', 'user',"
            " 'content', 'again'),"
            " named_struct('turn_idx', 3, 'role', 'assistant',"
            " 'content', 'answer'))"
        ).alias("turns"),
    )
    row = df.select(
        CH.render_chat("turns").alias("rendered"),
        CH.loss_mask_spans("turns").alias("spans"),
        CH.assistant_transcript_key("turns").alias("k_null"),
    ).collect()[0]
    assert row["rendered"] == (
        "<|user|>hi<|end|><|assistant|><|end|>"
        "<|user|>again<|end|><|assistant|>answer<|end|>"
    )
    # both assistant turns span-tracked; NULL content = zero-length span
    assert len(row["spans"]) == 2
    s0, s1 = row["spans"]
    assert s0["span_end"] - s0["span_start"] == 0
    got = row["rendered"][s1["span_start"]:s1["span_end"]]
    assert got == "answer"
    # dedup key: NULL content != '' content (chr(0) sentinel holds)
    df_empty = df.select(
        F.transform(
            "turns",
            lambda t: F.struct(
                t["turn_idx"].alias("turn_idx"),
                t["role"].alias("role"),
                F.coalesce(t["content"], F.lit("")).alias("content"),
            ),
        ).alias("turns")
    )
    k_empty = df_empty.select(
        CH.assistant_transcript_key("turns").alias("k")
    ).collect()[0]["k"]
    assert row["k_null"] != k_empty


def test_parse_turns_json_shapes_and_degrades(spark):
    """Structured ingest edge matrix: well-formed arrays keep message
    order as turn_idx; malformed JSON / scalar / NULL payloads become
    the EMPTY conversation; a bare object is a one-message
    conversation (Spark wraps a lone object to match an array
    schema); NULL elements and missing keys yield NULL fields the
    render/mask/key family already degrades; a turn_idx key in the
    payload is IGNORED — position wins, so a producer cannot reorder
    the loss mask."""
    rows = [
        (1, '[{"role":"user","content":"hi"},'
            '{"role":"assistant","content":"yo"}]'),
        (2, '[{"role":"user","content":"hi"'),  # malformed
        (3, None),
        (4, "[]"),
        (5, '[null,{"role":"assistant"}]'),
        (6, '{"role":"user","content":"solo"}'),  # bare object
        (7, '[{"turn_idx":9,"role":"user","content":"x","extra":1}]'),
        (8, '"just a string"'),  # scalar payload
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload string")
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            CH.parse_turns_json("payload").alias("turns"),
            CH.render_chat(CH.parse_turns_json("payload")).alias("r"),
        ).collect()
    }
    assert [
        (t["turn_idx"], t["role"], t["content"]) for t in got[1]["turns"]
    ] == [(0, "user", "hi"), (1, "assistant", "yo")]
    assert got[1]["r"] == "<|user|>hi<|end|><|assistant|>yo<|end|>"
    for empty_id in (2, 3, 4, 8):
        assert got[empty_id]["turns"] == [] and got[empty_id]["r"] == ""
    assert [t["turn_idx"] for t in got[5]["turns"]] == [0, 1]
    assert got[5]["turns"][0]["role"] is None
    assert got[5]["turns"][1]["content"] is None
    assert got[6]["r"] == "<|user|>solo<|end|>"
    assert got[7]["turns"][0]["turn_idx"] == 0  # position, not payload


def test_parse_turns_json_roundtrip_matches_parse_turns(spark):
    """to_json(parse_turns(text)) -> parse_turns_json is the identity
    on the turns array over real documents — the serialize/parse leg
    c_json_ingest leans on, pinned here row-for-row."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    conv = docs.select(
        "doc_id", CH.parse_turns("text", turn_words=6).alias("turns")
    )
    bad = conv.select(
        "doc_id",
        F.when(
            CH.parse_turns_json(F.to_json("turns")) == F.col("turns"),
            F.lit(0),
        ).otherwise(F.lit(1)).alias("mismatch"),
    ).agg(F.sum("mismatch")).collect()[0][0]
    assert bad == 0


def test_conv_dedup_incremental_matches_batch(spark, tmp_path):
    """Continuous-ingestion contract: conv_dedup_probe against the
    persisted history index (conversation_dedup's rows) flags exactly
    the batch conversations whose transcript history already holds,
    and its physical plan broadcasts the BATCH side (the index is
    scanned, never shuffled: no SortMergeJoin)."""
    # turn_words=5: words 1-5 = user turn (varies), words 6-10 =
    # assistant turn (shared across 1, 2, 10 -> same transcript key)
    hist = _conv(
        spark,
        [
            (1, "alpha beta gamma delta epsilon the answer is forty two"),
            (2, "totally different user words here the answer is forty two"),
            (3, "history only conversation right now some other reply text"),
        ],
        turn_words=5,
    )
    batch = _conv(
        spark,
        [
            (10, "third paraphrase of the user the answer is forty two"),
            (11, "a genuinely new conversation now nothing matches this reply"),
        ],
        turn_words=5,
    )
    path = str(tmp_path / "convidx")
    CH.conversation_dedup(hist).write.parquet(path)
    idx = spark.read.parquet(path)
    probe = CH.conv_dedup_probe(batch, idx)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan
    rows = probe.collect()
    # docs 1 and 2 share the assistant transcript with doc 10
    # (turn_words=5: identical assistant turns, different user turns);
    # doc 11 is new and must be absent
    assert [(r["id_new"], r["kept_id"], r["n_dups_hist"]) for r in rows] == [
        (10, 1, 2)
    ]


# ---------------------------------------------------------------------
# Chat templates as data + token-space loss masks (round 12)
# ---------------------------------------------------------------------

from mongodb_etl_migration_spark.operators import text as T
from mongodb_etl_migration_spark.queries import _GPT2_DEMO_MERGES
from tests.references import sft_tokens_reference


def test_render_exact_strings_per_preset(spark):
    rows = [(1, "a b c d e f g h")]
    got = {
        tpl: _conv(spark, rows)
        .select(CH.render_chat("turns", tpl).alias("r"))
        .collect()[0]["r"]
        for tpl in ("tagged", "chatml", "llama3")
    }
    assert got["tagged"] == (
        "<|user|>a b c d e f<|end|><|assistant|>g h<|end|>"
    )
    assert got["chatml"] == (
        "<|im_start|>user\na b c d e f<|im_end|>\n"
        "<|im_start|>assistant\ng h<|im_end|>\n"
    )
    assert got["llama3"] == (
        "<|begin_of_text|>"
        "<|start_header_id|>user<|end_header_id|>\n\na b c d e f<|eot_id|>"
        "<|start_header_id|>assistant<|end_header_id|>\n\ng h<|eot_id|>"
    )


def test_unknown_template_refuses():
    import pytest

    with pytest.raises(ValueError, match="unknown chat template"):
        CH.resolve_template("alpaca")


def test_mask_substring_property_every_preset(spark):
    """The shared invariant, re-asserted for EACH shipped preset over
    real sf0.001 documents: every span applied to that preset's
    rendered string recovers exactly the assistant content (llama3
    exercises the BOS initial offset and multi-char post_role with
    newlines; chatml the newline suffix)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    conv = docs.select(
        "doc_id", CH.parse_turns("text", turn_words=6).alias("turns")
    )
    for tpl in ("tagged", "chatml", "llama3"):
        checked = conv.select(
            CH.render_chat("turns", tpl).alias("rendered"),
            F.filter("turns", lambda t: t["role"] == "assistant").alias(
                "at"
            ),
            CH.loss_mask_spans("turns", tpl).alias("spans"),
        ).select(
            (F.size("spans") != F.size("at")).cast("int").alias("nbad"),
            F.aggregate(
                F.zip_with(
                    "spans",
                    "at",
                    lambda s, t: (
                        F.substring(
                            F.col("rendered"),
                            (s["span_start"] + 1).cast("int"),
                            (s["span_end"] - s["span_start"]).cast("int"),
                        )
                        != t["content"]
                    ).cast("int"),
                ),
                F.lit(0),
                lambda a, x: a + x,
            ).alias("mismatch"),
        )
        bad = checked.agg(
            F.sum(F.col("nbad") + F.col("mismatch"))
        ).collect()[0][0]
        assert bad == 0, f"preset {tpl}: {bad} mismatching spans"


def test_sft_tokens_roundtrip_and_full_decode(spark):
    """The render/mask alignment property LIFTED TO TOKEN SPACE, over
    real sf0.001 documents: (1) decoding ALL token ids reproduces the
    rendered conversation byte-for-byte (per-segment byte-level BPE is
    lossless); (2) decoding ONLY the masked spans reproduces exactly
    the concatenated assistant contents — the train-on-assistant
    guarantee a trainer needs from this artifact."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    conv = docs.select(
        "doc_id", CH.parse_turns("text", turn_words=6).alias("turns")
    )
    for tpl in ("chatml", "llama3"):
        st = conv.select(
            "doc_id",
            F.col("turns").alias("turns"),
            CH.sft_tokens("turns", _GPT2_DEMO_MERGES, tpl).alias("s"),
        )
        masked = F.flatten(
            F.transform(
                F.col("s.mask_spans"),
                lambda sp: F.slice(
                    F.col("s.token_ids"),
                    (sp["tok_start"] + 1).cast("int"),
                    (sp["tok_end"] - sp["tok_start"]).cast("int"),
                ),
            )
        )
        bad = (
            st.select(
                (
                    (
                        T.gpt2_decode_ascii(
                            F.col("s.token_ids"), _GPT2_DEMO_MERGES
                        )
                        != CH.render_chat("turns", tpl)
                    )
                    | (
                        T.gpt2_decode_ascii(masked, _GPT2_DEMO_MERGES)
                        != F.array_join(
                            F.transform(
                                F.filter(
                                    "turns",
                                    lambda x: x["role"] == "assistant",
                                ),
                                lambda x: x["content"],
                            ),
                            "",
                        )
                    )
                )
                .cast("int")
                .alias("bad")
            )
            .agg(F.sum("bad"))
            .collect()[0][0]
        )
        assert bad == 0, f"preset {tpl}: token roundtrip broke"


def test_sft_tokens_null_and_empty_turns(spark):
    """NULL content encodes as '' (span start == end, still emitted);
    a NULL role is never masked; an EMPTY conversation is bos+eos
    only with no spans."""
    turns_a = [
        {"turn_idx": 0, "role": "user", "content": None},
        {"turn_idx": 1, "role": "assistant", "content": None},
        {"turn_idx": 2, "role": None, "content": "orphan"},
    ]
    df = spark.createDataFrame(
        [(1, turns_a), (2, [])], f"doc_id long, turns {CH.TURN_STRUCT}"
    )
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            CH.sft_tokens("turns", _GPT2_DEMO_MERGES, "llama3").alias("s"),
        ).collect()
    }
    spans = out[1]["s"]["mask_spans"]
    assert [s["turn_idx"] for s in spans] == [1]  # NULL role unmasked
    assert spans[0]["tok_start"] == spans[0]["tok_end"]  # '' content
    vocab = T.gpt2_vocab(_GPT2_DEMO_MERGES)

    def const_ids(s):
        return [vocab[x] for x in T.gpt2_apply_reference(s, _GPT2_DEMO_MERGES)]

    tpl = CH.CHAT_TEMPLATES["llama3"]
    assert out[2]["s"]["mask_spans"] == []
    assert list(out[2]["s"]["token_ids"]) == const_ids(tpl.bos) + const_ids(
        tpl.eos
    )


def test_pack_sft_bestfit_invariants_and_roundtrip(spark):
    """The trainer-ready composition (sft_tokens → pack_sft_bestfit):
    per bin, (1) every untruncated example's slice of the bin's ids
    equals its own token ids verbatim; (2) every mask span lies
    inside its example's doc span; (3) bins never exceed seq_len;
    (4) over-length conversations truncate (flagged, spans clipped)
    and fill a bin alone; (5) nothing is dropped — every input
    example appears in exactly one doc_span."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    conv = docs.select(
        "doc_id", CH.parse_turns("text", turn_words=6).alias("turns")
    )
    st = (
        conv.filter(F.size("turns") > 0)
        .select(
            "doc_id",
            CH.sft_tokens("turns", _GPT2_DEMO_MERGES, "chatml").alias("s"),
        )
        .select(
            "doc_id",
            F.col("s.token_ids").alias("tid"),
            F.col("s.mask_spans").alias("sp"),
        )
    )
    L = 256
    rows = CH.pack_sft_bestfit(
        st, "doc_id", "tid", "sp", seq_len=L, n_buckets=8
    ).collect()
    src = {r["doc_id"]: list(r["tid"]) for r in st.collect()}
    seen: set[int] = set()
    n_trunc = 0
    for r in rows:
        ids = (
            [int(x) for x in r["token_ids"].split(" ")]
            if r["token_ids"]
            else []
        )
        assert len(ids) == r["n_tokens"] <= L
        dspans = {}
        for dsp in r["doc_spans"].split(","):
            d, s, e = map(int, dsp.split(":"))
            assert d not in seen  # each example packed exactly once
            seen.add(d)
            dspans[d] = (s, e)
            if e - s == len(src[d]):
                assert ids[s:e] == src[d]
            else:  # truncated: prefix of the original, alone in a bin
                assert e - s == L and ids[s:e] == src[d][:L]
                assert r["n_examples"] == 1
                n_trunc += 1
        if r["mask_spans"]:
            for m in r["mask_spans"].split(","):
                d, _, s, e = map(int, m.split(":"))
                ds, de = dspans[d]
                assert ds <= s <= e <= de
        assert r["n_truncated"] == sum(
            1 for d, (s, e) in dspans.items() if e - s != len(src[d])
        )
    assert seen == set(src)  # drop = 0
    assert n_trunc > 0  # the fixture exercises truncation at L=256


def test_pack_sft_bestfit_refuses_bad_inputs(spark):
    """Input guards (refuse-loudly rule): a non-integral id column
    refuses at PLAN time (a string id would cast to NULL, yielding a
    NULL bucket and NULL doc labels); a NULL token id — the Column-
    path encoder's OOV marker — refuses at EXECUTION time instead of
    letting n_tokens silently disagree with the emitted id list
    (size() counts NULLs, array_join drops them)."""
    import pytest

    schema = (
        "doc_id {idt}, tid array<int>, "
        "sp array<struct<turn_idx:int,tok_start:bigint,tok_end:bigint>>"
    )
    bad_id = spark.createDataFrame(
        [("x1", [5, 6], [])], schema.format(idt="string")
    )
    with pytest.raises(TypeError, match="integral"):
        CH.pack_sft_bestfit(bad_id, "doc_id", "tid", "sp", seq_len=8)

    oov = spark.createDataFrame(
        [(1, [5, None, 6], [])], schema.format(idt="bigint")
    )
    with pytest.raises(Exception, match="OOV"):
        CH.pack_sft_bestfit(oov, "doc_id", "tid", "sp", seq_len=8).collect()

    # the guards are inert on clean input: a NULL ARRAY (no tokens)
    # still packs as an empty example, as before
    ok = spark.createDataFrame(
        [(1, [5, 6], []), (2, None, [])], schema.format(idt="bigint")
    )
    rows = CH.pack_sft_bestfit(
        ok, "doc_id", "tid", "sp", seq_len=8, n_buckets=1
    ).collect()
    assert {d for r in rows for d in
            (int(x.split(":")[0]) for x in r["doc_spans"].split(","))} == {1, 2}


def test_bm25_stats_merge_overlap_check(spark):
    """bm25_stats_merge's optional disjointness enforcement: passing
    the two sides' tf layers turns the documented precondition into a
    loud refusal when a doc id appears in both batches (additive merge
    would double-count n_docs/total_dl); disjoint layers pass and the
    merged stats match the plain merge."""
    import pytest

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "b c"), (3, "c d")], "doc_id bigint, text string"
    )
    h, b = docs.filter("doc_id < 3"), docs.filter("doc_id >= 3")
    tf_h, tf_b = T.bm25_tf(h), T.bm25_tf(b)
    _, s_h = T.bm25_index(h, tf=tf_h)
    _, s_b = T.bm25_index(b, tf=tf_b)
    merged = T.bm25_stats_merge(s_h, s_b, tf_a=tf_h, tf_b=tf_b).collect()[0]
    assert (merged["n_docs"], merged["total_dl"]) == (3, 6)
    with pytest.raises(ValueError, match="BOTH batches"):
        T.bm25_stats_merge(s_h, s_h, tf_a=tf_h, tf_b=tf_h)
    with pytest.raises(ValueError, match="both tf_a and tf_b"):
        T.bm25_stats_merge(s_h, s_b, tf_a=tf_h)


def test_sft_tokens_special_ids_never_split_and_roundtrip(spark):
    """Reserved special tokens (chat.special_token_ids): control
    strings become SINGLE ids after the BPE space and are never
    BPE-split — every header starts with exactly [im_start_id] and
    every suffix is [im_end_id, newline_id]; the plain-Python reference
    agrees; masked decode still reproduces assistant contents (specials
    never land inside content spans); duplicates refuse."""
    import pytest

    sp = CH.special_token_ids(_GPT2_DEMO_MERGES, ["<|im_start|>", "<|im_end|>"])
    base = 256 + len(_GPT2_DEMO_MERGES)
    assert sp == {"<|im_start|>": base, "<|im_end|>": base + 1}
    with pytest.raises(ValueError, match="duplicate special"):
        CH.special_token_ids(_GPT2_DEMO_MERGES, ["a", "a"])

    rows = [(1, "how do i sort a table use the order by clause here")]
    conv = _conv(spark, rows)
    out = conv.select(
        "doc_id",
        F.col("turns").alias("turns"),
        CH.sft_tokens(
            "turns", _GPT2_DEMO_MERGES, "chatml", special_ids=sp
        ).alias("s"),
    ).collect()[0]
    ids = list(out["s"]["token_ids"])
    vocab = T.gpt2_vocab(_GPT2_DEMO_MERGES)
    nl = vocab["Ċ"]
    # structure: [im_start] role... [nl] content... [im_end, nl] per turn
    assert ids[0] == sp["<|im_start|>"]
    assert ids.count(sp["<|im_start|>"]) == 2  # one per turn
    assert ids.count(sp["<|im_end|>"]) == 2
    # the span decode property holds with specials
    sspan = out["s"]["mask_spans"][0]
    seg = ids[sspan["tok_start"] : sspan["tok_end"]]
    rev = {v: k for k, v in vocab.items()}
    dec = "".join(rev[i] for i in seg).replace("Ġ", " ")
    want = [t["content"] for t in out["turns"] if t["role"] == "assistant"][0]
    assert dec == want
    # reference equality under specials
    ref_ids, ref_spans = sft_tokens_reference(
        out["turns"], _GPT2_DEMO_MERGES, "chatml", special_ids=sp
    )
    assert ids == ref_ids
    assert [
        (m["turn_idx"], m["tok_start"], m["tok_end"])
        for m in out["s"]["mask_spans"]
    ] == ref_spans


def test_sft_pipeline_end_to_end_tokenize_pack_shuffle_shard(spark):
    """The full SFT data pipeline COMPOSED from shipped operators:
    parse_turns → sft_tokens (chatml, special ids) →
    pack_sft_bestfit → epoch_shuffle over (bucket, bin_idx) →
    loader_shards. Asserts: token conservation end to end (packing
    drops nothing), the epoch permutation is a bijection over bins,
    shard digests are deterministic across reruns (the resume
    receipt), and a different seed reorders (decorrelation)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sp = CH.special_token_ids(_GPT2_DEMO_MERGES, ["<|im_start|>", "<|im_end|>"])
    st = (
        docs.select(
            "doc_id", CH.parse_turns("text", turn_words=6).alias("turns")
        )
        .filter(F.size("turns") > 0)
        .select(
            "doc_id",
            CH.sft_tokens(
                "turns", _GPT2_DEMO_MERGES, "chatml", special_ids=sp
            ).alias("s"),
        )
        .select(
            "doc_id",
            F.col("s.token_ids").alias("tid"),
            F.col("s.mask_spans").alias("sp"),
        )
    )
    total = st.agg(F.sum(F.size("tid"))).collect()[0][0]
    # seq_len above the fixture's longest conversation: zero
    # truncation, so conservation is EXACT (the truncation ledger is
    # test_pack_sft_bestfit_invariants_and_roundtrip's job)
    packed = CH.pack_sft_bestfit(
        st, "doc_id", "tid", "sp", seq_len=1024, n_buckets=8
    ).localCheckpoint()
    assert packed.agg(F.sum("n_tokens")).collect()[0][0] == total
    assert packed.agg(F.sum("n_truncated")).collect()[0][0] == 0

    def digests(seed):
        shuf = T.epoch_shuffle(packed, ["bucket", "bin_idx"], seed=seed)
        shards = T.loader_shards(
            shuf, "epoch_pos", "token_ids", shard_size=16
        )
        return sorted(
            (r["shard_id"], r["n_seqs"], r["shard_digest"])
            for r in shards.collect()
        )

    a, b2 = digests(7), digests(7)
    assert a == b2 and len(a) > 1  # deterministic resume receipts
    c = digests(8)
    assert [x[2] for x in a] != [x[2] for x in c]  # seed reorders
