#!/usr/bin/env python
"""Scale receipt for the dedup/ANN path — the 100×-credibility check
the per-round sf0.1 bench can't give (VERDICT r3 item 8).

Claim under test: in minhash_dedup_pairs / dedup_representatives /
ann_topk_lsh, the expensive moving part (the LSH bucket self-join's
shuffle and output) grows with the DUPLICATE RATE, and only linearly
with corpus size — never quadratically in the corpus. If that holds at
1× → 10× locally, the same plan shape holds at 100 TB, where the
banding stage is a narrow projection and AQE splits any hot bucket.

Method: synthesize corpora from sf0.1's documents by replication —
each replica's words get a replica-unique suffix, so replicas share
NO shingles and add zero cross-replica near-dups (pure corpus growth);
exact dups are then planted at a controlled rate via a hash gate.
Four configs: base (5k docs, 10% dups), x10 (50k docs, 10%),
x10_dup4x (50k docs, 40%), and a TARGETED x100 (550k docs: dedup
banding, hashed lang-ID, sessionization — x10→x100 decade shuffle
linearity asserted at 10±15%). Embeddings are replicated with per-replica
jitter for the ANN probe.

Run:  python scripts/bench_scale.py          (~10-15 min, local[32])
Writes BENCH_scale.json at the repo root; corpora land under /tmp.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from bench import UiMetrics, noop, timed  # noqa: E402
from mongodb_etl_migration_spark import get_spark  # noqa: E402
from mongodb_etl_migration_spark.operators import dedup as D  # noqa: E402
from mongodb_etl_migration_spark.operators import similarity as SIM  # noqa: E402
from mongodb_etl_migration_spark.operators import text as T  # noqa: E402

SF01 = "/root/testdata/sf0.1"
# Replica id strides sized just above the source ranges (doc_id < 5e3,
# vec_id < 2e3): replica ids must stay COMPACT — high-replica ids with
# 1e6+ strides compress worse in the shuffle, and the 100x/base
# shuffle-byte ratio picks up a fake super-linear term that is value
# magnitude, not algorithm. The planted-dup offset is 200*DOC_STRIDE so
# paragraph-dedup's replica extraction ((id/stride) % 100) still maps
# a dup to its source replica.
DOC_STRIDE = 10_000
DUP_OFFSET = 200 * DOC_STRIDE
VEC_STRIDE = 10_000

# "planes" grows with log2(corpus): the LSH blocker's bucket count
# must track corpus size to keep BUCKET SIZE (and with it the
# within-bucket quadratic work) constant — 4 planes/16 buckets at 2k
# vectors, 8 planes/256 buckets at 20k. A fixed blocker at 10x corpus
# makes semdedup's within-bucket join grow ~quadratically (measured
# 21x wall before this scaling); this IS the documented operating
# rule, not a tuning hack.
CONFIGS = {
    "base": {"replicas": 1, "dup_pct": 10, "planes": 4},
    "x10": {"replicas": 10, "dup_pct": 10, "planes": 8},
    "x10_dup4x": {"replicas": 10, "dup_pct": 40, "planes": 8, "events": False},
    # The 100x tier (VERDICT r7 item 6 / r8 item 4): a 10x window can
    # hide a super-linear term; run the three paths a 100 TB pipeline
    # leans on hardest — dedup banding, hashed lang-ID, and
    # sessionization — at 100x and ASSERT shuffle-byte linearity over
    # the x10->x100 DECADE (10 +/- 15%; base->x100 reported — the base
    # tier sits at ~5 rows per shuffle chunk on doc-count paths, where
    # framing sets the byte floor). Targeted: the full battery at 100x would
    # be an hour of receipt time for claims the 10x tier already
    # covers.
    "x100": {"replicas": 100, "dup_pct": 10, "targeted": True},
}


def build_corpus(spark, replicas: int, dup_pct: int, out_dir: str) -> None:
    """Replicate sf0.1's documents ``replicas``x: each replica's words
    get a replica-unique suffix (shares NO shingles with any other —
    pure corpus growth), then exact dups are planted at a controlled
    rate via a hash gate. A broadcast crossJoin against the replica
    range keeps the build plan O(1) in replicas (a per-replica union
    is a 100-branch plan at the x100 tier)."""
    src = spark.read.parquet(f"{SF01}/documents.parquet").select("doc_id", "text")
    reps = spark.range(replicas).select(F.col("id").alias("__r"))
    base = (
        src.crossJoin(F.broadcast(reps))
        # stage the per-replica suffix once per ROW: the lambda body
        # below re-evaluates every reference per word (no CSE inside
        # higher-order functions)
        .withColumn(
            "__suffix", F.concat(F.lit("r"), F.col("__r").cast("string"))
        )
        .select(
            (F.col("doc_id") + F.col("__r") * DOC_STRIDE).alias("doc_id"),
            F.array_join(
                F.transform(
                    F.split(F.col("text"), " "),
                    lambda w: F.concat(w, F.col("__suffix")),
                ),
                " ",
            ).alias("text"),
        )
    )
    dups = base.filter(
        F.pmod(F.xxhash64(F.col("doc_id")), F.lit(100)) < F.lit(dup_pct)
    ).select((F.col("doc_id") + F.lit(DUP_OFFSET)).alias("doc_id"), "text")
    # the sf0.1 source parquet is ONE row group (unsplittable), so the
    # crossJoin build is a single task — repartition or every
    # downstream scan in the battery runs on one core and the tier's
    # wall times measure nothing but that skew. Floor at 32 files so
    # NO tier triggers minhash's few-splits fan-out repartition
    # (inputFiles < cores): with the fan-out firing at base (2 files)
    # but not at x100 (200 files), base's shuffle bytes carried a
    # full corpus-text exchange the big tiers skipped, and the
    # 100x/base ratio read a fake 0.58x-linear (measured) — the
    # receipt must compare the BANDING join at every tier.
    base.unionByName(dups).repartition(max(32, 2 * replicas)).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/documents")


def build_events(spark, replicas: int, out_dir: str) -> None:
    """Replicate sf0.1's events ``replicas``x with per-replica user
    and event id offsets: sessions never cross replicas, so session
    count and the sessionization window's shuffle must both grow
    exactly linearly."""
    ev = spark.read.parquet(f"{SF01}/events.parquet")
    reps = spark.range(replicas).select(F.col("id").alias("__r"))
    # offsets sized just above the source ranges (event_id < 1e5,
    # user_id < 1500): replica ids must stay COMPACT, or the bigger
    # integers of the high replicas compress worse in the shuffle and
    # the 100x/base shuffle-byte ratio reads a fake ~1.2x-super-linear
    # term that is value magnitude, not algorithm (measured 119.97).
    ev.crossJoin(F.broadcast(reps)).select(
        (F.col("event_id") + F.col("__r") * F.lit(100_000)).alias(
            "event_id"
        ),
        "ts",
        (F.col("user_id") + F.col("__r") * F.lit(2_000)).alias("user_id"),
        "event_type",
        "value",
        "props",
    ).repartition(max(32, 2 * replicas)).write.mode("overwrite").parquet(
        f"{out_dir}/events"
    )


def build_embeddings(spark, replicas: int, out_dir: str) -> None:
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    eparts = []
    for r in range(replicas):
        eparts.append(
            emb.select(
                (F.col("vec_id") + F.lit(r * VEC_STRIDE)).alias("vec_id"),
                F.transform(
                    "embedding", lambda x: x + F.lit(float(r)) * F.lit(0.001)
                ).alias("embedding"),
                "label",
            )
        )
    e = eparts[0]
    for p in eparts[1:]:
        e = e.unionByName(p)
    e.write.mode("overwrite").parquet(f"{out_dir}/embeddings")


def warm(ui: UiMetrics, df) -> dict:
    """One cold + one timed warm run through the noop sink, with the
    warm run's shuffle-byte delta (the number that must scale right)."""
    noop(df)
    return timed(lambda: noop(df), ui)[0]


def summarize(results: dict) -> dict:
    """Derive the linearity summary from measured configs (also
    reachable via --resummarize to recompute ratios from an
    existing BENCH_scale.json without re-running the battery)."""
    b, x, xd = results["base"], results["x10"], results["x10_dup4x"]
    summary = {
        # corpus 10×, same dup rate: shuffle should grow ~linearly
        # (banding rows ∝ N), NOT quadratically
        "shuffle_growth_at_10x_corpus": round(
            x["d2_minhash_pairs"]["shuffle_bytes"]
            / max(1, b["d2_minhash_pairs"]["shuffle_bytes"]),
            2,
        ),
        # same corpus, 4× dup rate: pair OUTPUT grows with dup rate —
        # the join's work tracks duplication, not corpus volume
        "pair_growth_at_4x_dup_rate": round(
            xd["d2_minhash_pairs"]["pairs_found"]
            / max(1, x["d2_minhash_pairs"]["pairs_found"]),
            2,
        ),
        "wall_growth_at_10x_corpus": round(
            x["d2_minhash_pairs"]["sec"] / max(1e-9, b["d2_minhash_pairs"]["sec"]),
            2,
        ),
        # fixed eval set, 10x corpus: the bloom-confirm shuffle must
        # track contamination (constant by construction), not corpus
        "bloom_shuffle_growth_at_10x_corpus": round(
            x["t_decontaminate_bloom"]["shuffle_bytes"]
            / max(1, b["t_decontaminate_bloom"]["shuffle_bytes"]),
            2,
        ),
        "semdedup_shuffle_growth_at_10x_corpus": round(
            x["sim_semdedup"]["shuffle_bytes"]
            / max(1, b["sim_semdedup"]["shuffle_bytes"]),
            2,
        ),
        # both text-index paths must grow ~linearly (shuffle ∝ rows)
        "inverted_index_shuffle_growth_at_10x_corpus": round(
            x["t_inverted_index"]["shuffle_bytes"]
            / max(1, b["t_inverted_index"]["shuffle_bytes"]),
            2,
        ),
        "rare_bigram_shuffle_growth_at_10x_corpus": round(
            x["t_rare_bigrams"]["shuffle_bytes"]
            / max(1, b["t_rare_bigrams"]["shuffle_bytes"]),
            2,
        ),
        # k-gram fingerprint set ∝ corpus; span OUTPUT ∝ dup rate
        "dup_spans_shuffle_growth_at_10x_corpus": round(
            x["t_dup_spans"]["shuffle_bytes"]
            / max(1, b["t_dup_spans"]["shuffle_bytes"]),
            2,
        ),
        "dup_spans_growth_at_4x_dup_rate": round(
            xd["t_dup_spans"]["spans"] / max(1, x["t_dup_spans"]["spans"]),
            2,
        ),
        # 10x corpus AND 10x vocabulary: margin-sum shuffle ∝ matched
        # tokens (linear), weight relation still broadcast
        "classifier_shuffle_growth_at_10x_corpus": round(
            x["t_quality_classifier"]["shuffle_bytes"]
            / max(1, b["t_quality_classifier"]["shuffle_bytes"]),
            2,
        ),
        # 10x nodes AND edges: per-round shuffle ∝ edges for both
        # iterative graph loops
        "pagerank_shuffle_growth_at_10x_graph": round(
            x["g_pagerank"]["shuffle_bytes"]
            / max(1, b["g_pagerank"]["shuffle_bytes"]),
            2,
        ),
        "hits_shuffle_growth_at_10x_graph": round(
            x["g_hits"]["shuffle_bytes"]
            / max(1, b["g_hits"]["shuffle_bytes"]),
            2,
        ),
        # 10x lines: paragraph-hash exchange (ids only) + one text
        # exchange -> linear
        "paragraph_dedup_shuffle_growth_at_10x_corpus": round(
            x["t_paragraph_dedup"]["shuffle_bytes"]
            / max(1, b["t_paragraph_dedup"]["shuffle_bytes"]),
            2,
        ),
        # 10x corpus, FIXED lid vocabulary: the per-doc sums exchange
        # is the only shuffle -> linear in docs
        "lang_id_shuffle_growth_at_10x_corpus": round(
            x["t_lang_id"]["shuffle_bytes"]
            / max(1, b["t_lang_id"]["shuffle_bytes"]),
            2,
        ),
        # same claim for the hash-bucketed variant (fixed 2^13-bucket
        # broadcast relation, identical plan shape)
        "lang_id_hashed_shuffle_growth_at_10x_corpus": round(
            x["t_lang_id_hashed"]["shuffle_bytes"]
            / max(1, b["t_lang_id_hashed"]["shuffle_bytes"]),
            2,
        ),
        # packing's one exchange moves the token stream once ->
        # shuffle linear in corpus tokens
        "seq_pack_shuffle_growth_at_10x_corpus": round(
            x["t_seq_pack"]["shuffle_bytes"]
            / max(1, b["t_seq_pack"]["shuffle_bytes"]),
            2,
        ),
        # z-order's shuffle is (file, bounds) rows, not the corpus —
        # absolute bytes stay tiny at 10x
        "zorder_shuffle_bytes_at_10x_corpus":
            x["o6_zorder_layout"]["shuffle_bytes"],
        # PQ encode is shuffle-FREE by construction at every size
        "pq_encode_shuffle_bytes_at_10x_corpus":
            x["sim_pq_encode"]["shuffle_bytes"],
        # training shuffle = one corpus word count + per-round
        # vocab-sized aggregates -> ~linear even with a 10x vocab
        "bpe_train_shuffle_growth_at_10x_corpus": round(
            x["t_bpe_train"]["shuffle_bytes"]
            / max(1, b["t_bpe_train"]["shuffle_bytes"]),
            2,
        ),
        # the epoch permutation's range exchange moves each packed
        # sequence once -> linear in sequences
        "seq_shuffle_shuffle_growth_at_10x_corpus": round(
            x["t_seq_shuffle"]["shuffle_bytes"]
            / max(1, b["t_seq_shuffle"]["shuffle_bytes"]),
            2,
        ),
        # sessions never cross replicas: the user_id window exchange
        # and the session count both grow exactly with events
        "sessionization_shuffle_growth_at_10x_corpus": round(
            x["e_sessionization"]["shuffle_bytes"]
            / max(1, b["e_sessionization"]["shuffle_bytes"]),
            2,
        ),
    }

    # round-10 rows (guarded: --resummarize over a pre-r10 receipt
    # must keep working). Bitext is REPORTED, not asserted: plane
    # count scales log2(N) like semdedup, so candidate shuffle lands
    # sub-linear by design (bucket count grows faster than sides).
    if "sim_bitext_margin" in b and "sim_bitext_margin" in x:
        summary["bitext_shuffle_growth_at_10x_corpus"] = round(
            x["sim_bitext_margin"]["shuffle_bytes"]
            / max(1, b["sim_bitext_margin"]["shuffle_bytes"]),
            2,
        )
        # the asserted-by-design quantity: candidate pairs (what the
        # rank windows and joins move) — linear under the log2(N)
        # plane rule; the byte ratio above carries the small-tier
        # compression artifact documented at the measurement site
        if "candidates" in x["sim_bitext_margin"]:
            summary["bitext_candidate_growth_at_10x_corpus"] = round(
                x["sim_bitext_margin"]["candidates"]
                / max(1, b["sim_bitext_margin"]["candidates"]),
                2,
            )
        summary["bitext_pairs_at_10x"] = x["sim_bitext_margin"]["pairs"]
        # per-exchange decomposition (r12 verdict item 3): attribute
        # the raw-byte growth. cand_join_bytes ~0 at both tiers (the
        # bucket join broadcasts — vectors never ride an exchange);
        # the two rank-window exchanges carry ALL bytes over minimal
        # (src_id, tgt_id, cos_e4) rows, rows = 2x candidates
        # (linear); residual byte growth is write compression — the
        # join emits candidates in stream-side (src) order, so the
        # src-keyed exchange writes long runs while the tgt-keyed
        # exchange scatters them.
        if "win_src_bytes" in x["sim_bitext_margin"]:
            summary["bitext_decomposition"] = {
                "cand_join_bytes": {
                    "base": b["sim_bitext_margin"].get("cand_join_bytes"),
                    "x10": x["sim_bitext_margin"].get("cand_join_bytes"),
                },
                "win_bytes_per_candidate": {
                    "base_src": b["sim_bitext_margin"].get(
                        "win_src_bytes_per_cand"
                    ),
                    "base_tgt": b["sim_bitext_margin"].get(
                        "win_tgt_bytes_per_cand"
                    ),
                    "x10_src": x["sim_bitext_margin"].get(
                        "win_src_bytes_per_cand"
                    ),
                    "x10_tgt": x["sim_bitext_margin"].get(
                        "win_tgt_bytes_per_cand"
                    ),
                },
                "note": (
                    "window rows grow exactly with candidates "
                    "(linear); raw-byte super-linearity is a shuffle "
                    "write-compression artifact (stream-side row "
                    "order), every rate far under the ~24 B raw row"
                ),
            }
    if "t_bm25_retrieval" in b and "t_bm25_retrieval" in x:
        summary["bm25_shuffle_growth_at_10x_corpus"] = round(
            x["t_bm25_retrieval"]["shuffle_bytes"]
            / max(1, b["t_bm25_retrieval"]["shuffle_bytes"]),
            2,
        )
        # asserted-by-design quantity (see the measurement-site note)
        if "tf_rows" in x["t_bm25_retrieval"]:
            summary["bm25_tf_rows_growth_at_10x_corpus"] = round(
                x["t_bm25_retrieval"]["tf_rows"]
                / max(1, b["t_bm25_retrieval"]["tf_rows"]),
                2,
            )
    if "t_pack_bestfit" in b and "t_pack_bestfit" in x:
        # same one-exchange claim as the concat packer: the items
        # (token chunks) cross the bucket exchange exactly once
        summary["pack_bestfit_shuffle_growth_at_10x_corpus"] = round(
            x["t_pack_bestfit"]["shuffle_bytes"]
            / max(1, b["t_pack_bestfit"]["shuffle_bytes"]),
            2,
        )
        summary["pack_bestfit_wall_growth_at_10x_corpus"] = round(
            x["t_pack_bestfit"]["sec"]
            / max(1e-9, b["t_pack_bestfit"]["sec"]),
            2,
        )
    if "c_sft_tokens" in x:
        # the chat family's Gopher-style claim: ZERO exchanges at any
        # size — assert the absolute shuffle stays at the noise floor
        # at x10 and report the wall decade unasserted (CPU-bound)
        summary["sft_tokens_x10_shuffle_bytes"] = (
            x["c_sft_tokens"]["shuffle_bytes"]
        )
        assert x["c_sft_tokens"]["shuffle_bytes"] < 1_000_000, (
            "sft_tokens shuffled at x10 — the pure-projection claim "
            "broke"
        )
        if "c_sft_tokens" in b:
            summary["sft_tokens_wall_x1_to_x10"] = round(
                x["c_sft_tokens"]["sec"]
                / max(1e-9, b["c_sft_tokens"]["sec"]),
                2,
            )
    if "t_bm25_probe" in b and "t_bm25_probe" in x:
        # the persisted-index contract: probe shuffle is matched-
        # postings-sized (replica-0 queries match the SAME postings at
        # every tier), so the 10x-corpus ratio must sit near 1 — a
        # probe whose shuffle grew with the corpus would mean the
        # corpus-sized work leaked past the index build. Band 2x:
        # chunk-framing noise on a tiny fixed payload.
        ratio = round(
            x["t_bm25_probe"]["shuffle_bytes"]
            / max(1, b["t_bm25_probe"]["shuffle_bytes"]),
            2,
        )
        summary["bm25_probe_shuffle_growth_at_10x_corpus"] = ratio
        assert ratio < 2.0, (
            f"bm25 probe shuffle grew {ratio}x at 10x corpus — "
            "matched-postings contract violated"
        )

    # ---- the 100x tier: shuffle-byte LINEARITY ASSERTED ----
    # A 10x window can hide a super-linear term; a second decade
    # cannot. The asserted band is the x10 -> x100 DECADE ratio
    # (10 +/- 15%): shuffle bytes are deterministic (unlike wall
    # time), and both endpoints are big enough that per-chunk shuffle
    # framing is amortized. The base -> x100 ratio is REPORTED but
    # not asserted for every path: at 5.5k docs over 32 map tasks x
    # 32 reduce partitions the base tier's doc-count paths sit at ~5
    # rows per shuffle chunk, where framing (not data) sets the byte
    # floor — measured 93 B/doc at base vs a stable 72-73 B/doc at
    # x10 AND x100 for hashed lang-ID, i.e. the base outlier is chunk
    # occupancy, not an algorithmic term.
    x100 = results["x100"]
    checks = {}
    # per-key presence guards: --resummarize must keep working over a
    # receipt from BEFORE a key joined the battery (the r10 review
    # caught the line-317 comment promising guards that only the
    # bitext/bm25 rows actually had)
    for key in (
        "d2_minhash_pairs",
        "t_lang_id_hashed",
        "e_sessionization",
        "t_dup_spans",
        "t_dup_spans_exact",
    ):
        if key not in x100 or key not in x or key not in b:
            continue
        decade = round(
            x100[key]["shuffle_bytes"]
            / max(1, x[key]["shuffle_bytes"]),
            2,
        )
        vs_base = round(
            x100[key]["shuffle_bytes"] / max(1, b[key]["shuffle_bytes"]), 2
        )
        checks[key] = {
            "x100_over_x10": decade,
            "linear_ok": 8.5 <= decade <= 11.5,
        }
        summary[f"{key}_shuffle_growth_x10_to_x100"] = decade
        summary[f"{key}_shuffle_growth_at_100x_corpus"] = vs_base
    # the Gopher scorer's claim is ZERO exchanges at every size (the
    # fan-out is pinned off): a ratio on ~0 bytes is meaningless, so
    # assert the absolute shuffle stays at the noise floor at x100 and
    # report the wall-clock decade (CPU-bound, ~linear) unasserted.
    g100 = x100.get("t_gopher_repetition")
    if g100 is not None and "t_gopher_repetition" in x:
        checks["t_gopher_repetition"] = {
            "x100_shuffle_bytes": g100["shuffle_bytes"],
            "linear_ok": g100["shuffle_bytes"] < 1_000_000,
        }
        summary["gopher_x100_shuffle_bytes"] = g100["shuffle_bytes"]
        summary["gopher_wall_x10_to_x100"] = round(
            g100["sec"] / max(1e-9, x["t_gopher_repetition"]["sec"]), 2
        )
    # ---- media tier (round-14): image/video near-dup + unigram ----
    # Same decade discipline as the text battery: x10 -> x100 shuffle
    # ratio asserted at 10 +/- 15% for the two banded/blocked joins;
    # the base -> x10 ratios and the dup-rate / hot-frame receipts
    # are reported alongside. Presence-guarded throughout so
    # --resummarize keeps working over pre-media receipts.
    mb = results.get("media_base")
    mx = results.get("media_x10")
    mx4 = results.get("media_x10_dup4x")
    m100 = results.get("media_x100")
    if mb and mx:
        summary["image_neardup_shuffle_growth_at_10x_corpus"] = round(
            mx["m_image_neardup"]["shuffle_bytes"]
            / max(1, mb["m_image_neardup"]["shuffle_bytes"]),
            2,
        )
        # corpus fixed at x10, planted dup rate 10% -> 40%: confirmed
        # NEAR-DUP pair output tracks duplication (the minhash
        # pair_growth_at_4x_dup_rate claim for images). The constant
        # A-B exact-dup pairs (one per family at every rate) are
        # subtracted so the ratio isolates the rate-driven term.
        if mx4 and "families" in mx4 and "families" in mx:
            summary["image_neardup_pair_growth_at_4x_dup_rate"] = round(
                (
                    mx4["m_image_neardup"]["pairs_found"]
                    - mx4["families"]
                )
                / max(
                    1,
                    mx["m_image_neardup"]["pairs_found"]
                    - mx["families"],
                ),
                2,
            )
        summary["video_neardup_capped_shuffle_growth_at_10x_corpus"] = round(
            mx["m_video_neardup_capped"]["shuffle_bytes"]
            / max(1, mb["m_video_neardup_capped"]["shuffle_bytes"]),
            2,
        )
        # the ubiquitous-frame cap receipt: 20% of videos carry one
        # planted hot frame (black frame / test card). WITH the cap
        # the hot bucket is dropped BEFORE the join; WITHOUT it the
        # join squares that bucket. min_shared=2 means hot-only pairs
        # die at the n_shared filter either way — the cap changes NO
        # answer here, it removes the squared-bucket exchange.
        if "m_video_neardup_uncapped" in mx:
            u = mx["m_video_neardup_uncapped"]
            c = mx["m_video_neardup_capped"]
            summary["video_hotframe_cap_x10"] = {
                "uncapped_shuffle_bytes": u["shuffle_bytes"],
                "capped_shuffle_bytes": c["shuffle_bytes"],
                "shuffle_ratio_uncapped_over_capped": round(
                    u["shuffle_bytes"] / max(1, c["shuffle_bytes"]), 2
                ),
                "pairs_equal": u["pairs_found"] == c["pairs_found"],
            }
        # unigram training: ONE corpus-sized word-count exchange whose
        # map-side combine collapses to <= vocabulary x tasks rows, EM
        # rounds vocabulary-bounded — shuffle must track the
        # VOCABULARY (10x here: replica suffixes), never the corpus;
        # assert decisively sub-corpus growth (the bpe_train shape,
        # measured 2.97x there).
        if "t_unigram_train" in mb and "t_unigram_train" in mx:
            ug = round(
                mx["t_unigram_train"]["shuffle_bytes"]
                / max(1, mb["t_unigram_train"]["shuffle_bytes"]),
                2,
            )
            summary["unigram_train_shuffle_growth_at_10x_corpus"] = ug
            assert ug < 8.0, (
                f"unigram train shuffle grew {ug}x at 10x corpus — "
                "the vocabulary-bounded claim broke"
            )
        # audio near-dup delegates to video_neardup_pairs verbatim
        # (operators/multimodal.audio_neardup_pairs): the window key
        # is the blocking key, the join/cap/cluster machinery is THE
        # SAME CODE — the video rows above are its scale receipt; the
        # fingerprint stage, like the decoders, is a zero-shuffle
        # Arrow fan-out (plan receipt in PLANS.md).
        summary["audio_neardup_scale_note"] = (
            "audio_neardup_pairs delegates to video_neardup_pairs "
            "(same bag-of-perceptual-keys join, cap, clusters) — the "
            "m_video_neardup rows are its receipt; audio_fingerprint "
            "is a zero-shuffle Arrow fan-out"
        )
    if mx and m100:
        for mkey, ckey in (
            ("m_image_neardup", "m_image_neardup"),
            ("m_video_neardup_capped", "m_video_neardup"),
        ):
            if mkey not in m100 or mkey not in mx:
                continue
            decade = round(
                m100[mkey]["shuffle_bytes"]
                / max(1, mx[mkey]["shuffle_bytes"]),
                2,
            )
            checks[ckey] = {
                "x100_over_x10": decade,
                "linear_ok": 8.5 <= decade <= 11.5,
            }
            summary[f"{ckey}_shuffle_growth_x10_to_x100"] = decade
            if mb and mkey in mb:
                summary[f"{ckey}_shuffle_growth_at_100x_corpus"] = round(
                    m100[mkey]["shuffle_bytes"]
                    / max(1, mb[mkey]["shuffle_bytes"]),
                    2,
                )

    summary["x100_linearity"] = checks
    summary["x100_linearity_ok"] = all(
        c["linear_ok"] for c in checks.values()
    )

    # item 5 (r9): the MEASURED k-gram/byte-pass crossover — both
    # ExactSubstr passes over the identical x10 corpus; the dispatcher
    # docstring (text.exact_substr_spans) cites this line instead of
    # the analytic same-cost-class argument.
    if "t_dup_spans" in x and "t_dup_spans_exact" in x:
        summary["exactsubstr_crossover_x10"] = {
            "kgram_k8": {
                "sec": x["t_dup_spans"]["sec"],
                "shuffle_bytes": x["t_dup_spans"]["shuffle_bytes"],
            },
            "byte50": {
                "sec": x["t_dup_spans_exact"]["sec"],
                "shuffle_bytes": x["t_dup_spans_exact"]["shuffle_bytes"],
            },
            "byte_over_kgram_shuffle": round(
                x["t_dup_spans_exact"]["shuffle_bytes"]
                / max(1, x["t_dup_spans"]["shuffle_bytes"]),
                2,
            ),
            "byte_over_kgram_wall": round(
                x["t_dup_spans_exact"]["sec"]
                / max(1e-9, x["t_dup_spans"]["sec"]),
                2,
            ),
        }

    return summary


def main() -> None:
    spark = get_spark(app_name="bench_scale", extra_conf={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    ui = UiMetrics(spark)
    results: dict[str, dict] = {}

    from mongodb_etl_migration_spark.streaming.stateful import sessionize_batch

    def timed_sessionize(out_dir: str) -> dict:
        ev = spark.read.parquet(f"{out_dir}/events")
        sess = sessionize_batch(ev, gap_minutes=30)
        sm = warm(ui, sess)
        sm["sessions"] = sess.count()
        return sm

    for name, cfg in CONFIGS.items():
        out_dir = f"/tmp/bench_scale_{name}"
        build_corpus(spark, cfg["replicas"], cfg["dup_pct"], out_dir)
        if cfg.get("events", True):
            build_events(spark, cfg["replicas"], out_dir)
        docs = spark.read.parquet(f"{out_dir}/documents")
        n_docs = docs.count()

        if cfg.get("targeted"):
            # x100 tier: the paths a 100 TB pipeline leans on hardest
            # (full battery covered at x10) — banding, hashed lang-ID,
            # sessionization, plus the span-dedup family and the
            # Gopher scorer (r9 verdict item 2: these carry the
            # catalog's largest per-byte shuffles / CPU folds, exactly
            # where a super-linear term would hide)
            pairs = D.minhash_dedup_pairs(
                docs, "doc_id", "text", fan_out=False
            )
            d2 = warm(ui, pairs)
            d2["pairs_found"] = pairs.count()
            lidh = T.lang_id_hashed(docs, "doc_id", "text")
            lhm = warm(ui, lidh)
            lhm["docs"] = lidh.count()
            spans = T.duplicated_spans(docs, "doc_id", "text", k=8)
            ds = warm(ui, spans)
            ds["spans"] = spans.count()
            spx = T.duplicated_spans_exact(
                docs, "doc_id", "text", min_bytes=50
            )
            dsx = warm(ui, spx)
            dsx["spans"] = spx.count()
            gr = T.with_gopher_repetition(docs, "text", fan_out=False)
            gm = warm(ui, gr)
            gm["passed"] = gr.filter(F.col("gopher_rep_pass")).count()
            results[name] = {
                "docs": n_docs,
                "dup_pct": cfg["dup_pct"],
                "d2_minhash_pairs": d2,
                "t_lang_id_hashed": lhm,
                "t_dup_spans": ds,
                "t_dup_spans_exact": dsx,
                "t_gopher_repetition": gm,
                "e_sessionization": timed_sessionize(out_dir),
            }
            print(f"{name}: {json.dumps(results[name])}", file=sys.stderr)
            continue

        build_embeddings(spark, cfg["replicas"], out_dir)
        emb = spark.read.parquet(f"{out_dir}/embeddings")

        pairs = D.minhash_dedup_pairs(
            docs, "doc_id", "text", fan_out=False
        )
        d2 = warm(ui, pairs)
        d2["pairs_found"] = pairs.count()

        reps = D.dedup_representatives(docs, pairs, "doc_id")
        d7 = warm(ui, reps)
        d7["survivors"] = reps.count()

        planes = [
            r["embedding"]
            for r in emb.filter(
                F.col("vec_id").isin(list(range(1, cfg["planes"] + 1)))
            ).orderBy("vec_id").collect()
        ]
        qvec = emb.filter(F.col("vec_id") == 0).head()["embedding"]
        topk = SIM.ann_topk_lsh(emb, qvec, planes, k=10)
        lsh = warm(ui, topk)

        # SemDeDup at scale: the jittered replicas are planted
        # near-dups (cosine ~1 with their base vector, same LSH
        # bucket); shuffle is the bucket self-join — linear in corpus.
        sem = SIM.semantic_dedup_keep(emb, planes, threshold=0.999)
        sd = warm(ui, sem)
        sd["survivors"] = sem.count()

        # Bloom decontamination at scale: eval set FIXED (base-replica
        # slice) while the corpus grows 10x; replicas share no grams,
        # so contamination — and with it the confirm join's shuffle —
        # must stay ~flat as the corpus grows. That flatness is the
        # "shuffle tracks contamination, not corpus" claim, measured.
        evals = docs.filter(
            (F.col("doc_id") < DOC_STRIDE)
            & (F.pmod(F.col("doc_id"), F.lit(97)) == F.lit(0))
        )
        train = docs.join(evals.select("doc_id"), "doc_id", "left_anti")
        cont = T.decontaminate_bloom(train, evals, "doc_id", "text", n=3)
        bl = warm(ui, cont)
        bl["contaminated"] = cont.count()

        # Inverted index at scale: shuffle is the distinct (doc, term)
        # set — linear in corpus (replica-suffixed words grow the
        # vocabulary with the corpus); bounded postings keep stopword
        # aggregation state fixed regardless of df.
        inv = T.inverted_index(docs, "doc_id", "text", min_df=2, max_postings=20)
        ii = warm(ui, inv)
        ii["terms"] = inv.count()

        # Rare-bigram scoring at scale: shuffle is the exploded bigram
        # set (window count + per-doc rollup) — linear in corpus.
        rbt = warm(ui, T.rare_bigram_stats(docs, "doc_id", "text", min_count=10))

        # ExactSubstr duplicated spans at scale: shuffle is the
        # exploded k-gram fingerprint set — linear in corpus (replicas
        # share no k-grams); spans found track the PLANTED duplicate
        # rate (each planted dup doubles its doc's windows corpus-wide).
        spans = T.duplicated_spans(docs, "doc_id", "text", k=8)
        ds = warm(ui, spans)
        ds["spans"] = spans.count()

        # Byte-threshold twin (Lee et al.'s 50-byte line) on the SAME
        # corpus: per-position suffix fingerprints instead of k-gram
        # windows — same single-exchange shape, so this pair of rows
        # IS the measured k-gram/byte-pass crossover receipt the
        # exact_substr_spans dispatcher docstring cites (same cost
        # class at k=8 ≈ 50 bytes; see summary.exactsubstr_crossover).
        spx = T.duplicated_spans_exact(docs, "doc_id", "text", min_bytes=50)
        dsx = warm(ui, spx)
        dsx["spans"] = spx.count()

        # Gopher §A1.1 full repetition scoring at scale: zero-shuffle
        # staged projections — fan-out PINNED OFF so the plan shape is
        # identical at every tier/host (the corpora are written 32+
        # files, so the heuristic would be off anyway; pinning removes
        # the environment dependence the r9 advice flagged).
        gr = T.with_gopher_repetition(docs, "text", fan_out=False)
        gm = warm(ui, gr)
        gm["passed"] = gr.filter(F.col("gopher_rep_pass")).count()

        # Linear classifier at scale: the vocabulary grows WITH the
        # corpus (per-replica suffixed weight terms — the real-world
        # shape where a 10x corpus ships a bigger trained vocab); the
        # weight relation stays broadcast, and the plan's one shuffle
        # (per-doc margin sum) is linear in matched tokens + one
        # sentinel row per doc.
        vocab = {
            f"{t}r{r}": wt
            for t, wt in T.QUALITY_CLASSIFIER_WEIGHTS.items()
            for r in range(cfg["replicas"])
        }
        cls = T.classifier_margin(docs, "doc_id", "text", weights=vocab)
        cm = warm(ui, cls)
        cm["vocab_terms"] = len(vocab)
        cm["kept"] = cls.filter(F.col("keep")).count()

        # BPE training at scale: the corpus is touched once (word
        # count); every round then runs on the vocabulary (here the
        # replica-suffixed vocab grows with the corpus, the worst
        # case) with a 1-row argmax collect per round — shuffle is
        # the word-count exchange + rounds x vocab-sized aggregates,
        # never corpus x rounds.
        def train():
            # mode='distributed': this tier measures the vocabulary-
            # resident round machinery's shuffle scaling (auto would
            # collect the vocab and train driver-side — that path's
            # receipt is BENCH_bpe_train.json's incremental rows)
            mg, vocab = T.bpe_train(
                docs, "text", n_merges=4, mode="distributed"
            )
            return len(mg), vocab.count()

        bt, (merges, n_vocab) = timed(train, ui)
        bt.update(merges=merges, vocab=n_vocab)

        # PQ at scale: codebooks are plan literals and the encode is
        # narrow — shuffle must be ZERO at any corpus size; ADC top-k
        # moves only per-partition heaps (TakeOrderedAndProject).
        cbq = SIM.derived_pq_codebooks(4, 8, 4, seed="pqscale")
        emb16 = emb.select(
            "vec_id", F.slice("embedding", 1, 16).alias("embedding")
        )
        pqm = warm(ui, SIM.pq_encode(emb16, cbq))
        pqm["vectors"] = emb16.count()

        # Language-ID classifier at scale: the gram explode is narrow
        # and the weight relation is broadcast and FIXED (a lid model
        # does not grow with the corpus); the plan's one exchange
        # carries one (doc, k sums) row per doc per map task —
        # shuffle linear in docs.
        lid = T.lang_id_ngram(docs, "doc_id", "text")
        lm = warm(ui, lid)
        lm["docs"] = lid.count()

        # Hash-bucketed variant: the broadcast relation is FIXED at
        # <= 2^13 bucket rows no matter the vocabulary; same
        # single-exchange plan, so shuffle must track lang_id_ngram's
        # (linear in docs).
        lidh = T.lang_id_hashed(docs, "doc_id", "text")
        lhm = warm(ui, lidh)
        lhm["docs"] = lidh.count()

        # Sequence packing at scale: the ONLY exchange is the bucket
        # groupBy moving the token stream once — shuffle linear in
        # corpus tokens; per-bucket state bounded by bucket sizing
        # (buckets scale with the corpus here, 32 per replica).
        tok_ids = docs.select(
            "doc_id",
            F.transform(
                T.tokens("text"), lambda t: F.length(t).cast("int")
            ).alias("tid"),
        )
        packed = T.pack_sequences(
            tok_ids, "doc_id", "tid", seq_len=256, eos_id=0,
            n_buckets=32 * cfg["replicas"],
        )
        pk = warm(ui, packed)
        pk["sequences"] = packed.count()

        # Best-fit packing at scale: same single bucket exchange as
        # the concat packer (each item's token chunk crosses once);
        # the BFD fold is per-bucket compute and bucket count scales
        # with the corpus, so per-bucket items stay ~constant —
        # shuffle linear in corpus tokens, wall ~linear.
        bfp = T.pack_sequences_bestfit(
            tok_ids, "doc_id", "tid", seq_len=256, eos_id=0,
            n_buckets=32 * cfg["replicas"],
        )
        bf = warm(ui, bfp)
        bf["bins"] = bfp.count()

        # Token-space SFT masks at scale: pure projection (constant
        # segments ride as literal id arrays, per-turn encodes in one
        # transform + one fold) — ZERO exchanges at any corpus size,
        # the Gopher rule applied to the chat family; wall is genuine
        # per-row encode compute.
        from mongodb_etl_migration_spark.operators import chat as CHs
        from mongodb_etl_migration_spark.queries import (
            _GPT2_DEMO_MERGES as _DM,
        )

        sft = docs.select(
            "doc_id", CHs.parse_turns("text", 6).alias("turns")
        ).select(
            "doc_id",
            CHs.sft_tokens("turns", _DM, "chatml").alias("s"),
        )
        sfm = warm(ui, sft)
        sfm["docs"] = n_docs

        # Epoch shuffle at scale: the permutation is one hash-ordered
        # range exchange over the packed sequences plus in-plan
        # offsets (one count per range partition) — shuffle linear in
        # sequences. Building the frame already runs the range-bound
        # sampling job, so measure around the builder.
        es, n_seq = timed(
            lambda: T.epoch_shuffle(
                packed, ["bucket", "seq_idx"], seed=42
            ).count(),
            ui,
        )
        es["sequences"] = n_seq

        # Z-order layout at scale: the Morton encode is a narrow
        # projection (zero shuffle on its own); zorder_layout adds one
        # tiny exact-percentile aggregate (bounded driver row) plus
        # the min/max receipt's partial-agg exchange — shuffle is the
        # (file_id, bounds) rows only, far sub-linear in the corpus.
        from mongodb_etl_migration_spark.operators import layout as LO

        dims = docs.select(
            (F.col("doc_id") % 1024).cast("bigint").alias("d1"),
            (F.length("text") % 1024).cast("bigint").alias("d2"),
        )
        laid = LO.zorder_layout(dims, ["d1", "d2"], bits=10, n_files=64)
        zstats = LO.layout_pruning_stats(laid, ["d1", "d2"])
        zm = warm(ui, zstats)
        zm["files"] = zstats.count()

        # Paragraph dedup at scale: every doc carries one corpus-wide
        # boilerplate line plus its body line. The corpus's replica
        # suffixes are DIGITS, which CCNet normalization strips — so
        # body lines are re-tagged with a per-replica LETTER to keep
        # replicas distinct under the digit-stripped hash (the planted
        # exact dups share their source's tag and still vanish).
        # Claim: the paragraph-hash exchange carries (md5, id, idx)
        # only and line TEXT crosses exactly one exchange — shuffle
        # grows linearly in lines; boilerplate survives once.
        rep = (F.col("doc_id") / DOC_STRIDE).cast("int") % 100
        letter = F.element_at(
            F.array(*[F.lit(c) for c in "abcdefghij"]), rep + 1
        )
        pdocs = docs.select(
            "doc_id",
            F.concat(
                F.lit("site boilerplate banner\n"),
                F.col("text"),
                F.lit(" uniq"),
                letter,
            ).alias("text"),
        )
        pd_out = T.dedup_paragraphs(pdocs, "doc_id", "text")
        pdm = warm(ui, pd_out)
        pdm["docs_kept"] = pd_out.count()

        # Graph loops at scale: a deterministic synthetic digraph with
        # 10 out-edges per node (edges ∝ corpus). Claim: per-round
        # shuffle is linear in EDGES for both PageRank and HITS (the
        # rank/score frames stay node-sized and broadcast).
        n_nodes = 2_000 * cfg["replicas"]
        g_edges = (
            spark.range(n_nodes * 10)
            .select(
                (F.col("id") % n_nodes).alias("src"),
                F.pmod(F.xxhash64("id"), F.lit(n_nodes)).alias("dst"),
            )
            .filter(F.col("src") != F.col("dst"))
        )
        from mongodb_etl_migration_spark.operators import graph as GR

        # the loops materialize per round via localCheckpoint, so the
        # shuffle happens during CONSTRUCTION — measure around the
        # builder call, not a post-hoc write
        def timed_build(fn):
            stats, n = timed(lambda: fn().count(), ui)
            stats["nodes"] = n
            return stats

        gp = timed_build(
            lambda: GR.pagerank_integer(g_edges, "src", "dst", iterations=3)
        )
        gh = timed_build(
            lambda: GR.hits_integer(g_edges, "src", "dst", iterations=3)
        )

        # Bitext mining at scale: sides split the replicated vectors
        # (even/odd vec_id); plane count follows semdedup's log2(N)
        # rule (cfg["planes"]) so per-bucket candidate work stays
        # bounded as the corpus grows. The candidate frame is
        # localCheckpointed inside the operator, so measure around
        # CONSTRUCTION (like the graph loops), not a post-hoc write.
        def timed_bitext():
            srcs = emb.filter(F.col("vec_id") % 2 == 0)
            tgts = emb.filter(F.col("vec_id") % 2 == 1)
            # timed around construction+count only: the candidate
            # recount below is a diagnostic second pass (it rebuilds
            # the bucket join) and must not inflate sec
            stats, n = timed(
                lambda: SIM.bitext_margin_pairs(
                    srcs, tgts, planes, k=4
                ).count(),
                ui,
            )
            # the ALGORITHMIC linearity quantity is the candidate-set
            # size (what the windows/joins actually move): the raw
            # byte ratio between tiers carries a compression/chunk-
            # occupancy artifact — at the base tier the dense, sorted
            # (id, id, cos) rows compress to ~5 B/pair while the x10
            # tier's wider id spread sits at ~21 B/pair (the r9
            # byte-floor lesson, opposite direction)
            cands_df = SIM._bitext_candidates(srcs, tgts, planes)
            cand_join, cands = timed(cands_df.count, ui)
            # PER-EXCHANGE ATTRIBUTION (r12 verdict item 3 — all
            # diagnostic second passes, excluded from sec). Measured
            # decomposition of the 37.6x raw-byte growth at x10:
            # (a) the candidate bucket JOIN broadcasts at these tiers
            #     — cand_join_bytes ~0, so RAW VECTORS NEVER RIDE ANY
            #     EXCHANGE here (the riding-vectors hypothesis is
            #     disproven by measurement; at cluster scale the join
            #     becomes the one corpus-sized exchange);
            # (b) ALL measured shuffle is the two margin rank windows
            #     over (src_id, tgt_id, cos_e4) rows — already the
            #     minimal payload; rows through them = 2x candidates,
            #     growth exactly the candidate ratio (linear);
            # (c) the residual byte growth is a WRITE-COMPRESSION
            #     artifact: candidates leave the broadcast join
            #     ordered by the stream side (src), so the src-keyed
            #     exchange writes long same-id runs (~1.3 B/row at
            #     x10) while the tgt-keyed exchange scatters rows
            #     (~9.4 B/row); the base tier's 2k dense ids compress
            #     both to ~1.26 B/row. All rates sit far under the
            #     ~24 B raw row — bytes/candidate, not candidates,
            #     is what moves.
            from pyspark.sql import Window as _W

            def _win_bytes(key: str, order: list) -> int:
                ranked = cands_df.withColumn(
                    "rn",
                    F.row_number().over(
                        _W.partitionBy(key).orderBy(*order)
                    ),
                ).filter(F.col("rn") <= 4)
                return timed(ranked.count, ui)[0]["shuffle_bytes"]

            win_src = _win_bytes(
                "src_id", [F.desc("cos_e4"), F.asc("tgt_id")]
            )
            win_tgt = _win_bytes(
                "tgt_id", [F.desc("cos_e4"), F.asc("src_id")]
            )
            return {
                **stats,
                "pairs": n,
                "candidates": cands,
                "cand_join_bytes": cand_join["shuffle_bytes"],
                "win_src_bytes": win_src,
                "win_tgt_bytes": win_tgt,
                "win_src_bytes_per_cand": round(win_src / 2 / max(1, cands), 2),
                "win_tgt_bytes_per_cand": round(win_tgt / 2 / max(1, cands), 2),
            }

        bx = timed_bitext()

        # BM25 at scale: the only corpus-sized traffic is the token
        # stream (tf/dl aggregates; df reuses tf) — shuffle linear in
        # tokens; query terms broadcast; top-k trims map-side.
        # the scale corpus suffixes every word with its replica tag, so
        # query replica 0's vocabulary (unsuffixed terms match nothing
        # and the receipt would score an all-miss query)
        bm_out = T.bm25_topk(
            docs,
            [("q1", ["sparkr0", "streamr0"]), ("q2", ["joinr0", "hashr0"])],
            k=10,
        )
        bm = warm(ui, bm_out)
        bm["rows"] = bm_out.count()
        # the algorithmic traffic quantity: BM25's corpus-sized work
        # is the distinct (doc, term) stream (tf) — the same set the
        # inverted-index row receipts; the raw byte ratio carries the
        # small-tier compression artifact (base terms are all
        # 'wordr0' — near-zero suffix entropy — while x10 spreads ten
        # suffixes over a 10x vocabulary)
        bm["tf_rows"] = (
            docs.select(
                "doc_id", F.explode(T.tokens("text")).alias("term")
            )
            .distinct()
            .count()
        )

        # Materialized BM25 index at scale: build pays the corpus-
        # sized work ONCE at write time; the probe's shuffle is
        # MATCHED-POSTINGS-sized, not corpus-sized — replica-0 query
        # terms match the same posting set at every tier, so probe
        # shuffle must stay ~flat as the corpus grows 10x (the
        # persisted-index win; scan is pruned to the query terms'
        # tbucket partitions, whose size — not the shuffle — grows
        # with the corpus).
        idx_path = f"{out_dir}/bm25_index"
        T.write_bm25_index(docs, idx_path)

        bmp, n_rows = timed(
            lambda: T.bm25_probe_indexed(
                spark,
                idx_path,
                [
                    ("q1", ["sparkr0", "streamr0"]),
                    ("q2", ["joinr0", "hashr0"]),
                ],
                k=10,
            ).count(),
            ui,
        )
        bmp["rows"] = n_rows

        results[name] = {
            "docs": n_docs,
            "dup_pct": cfg["dup_pct"],
            "planes": cfg["planes"],
            "vectors": emb.count(),
            "d2_minhash_pairs": d2,
            "d7_representatives": d7,
            "sim_topk_lsh": lsh,
            "sim_semdedup": sd,
            "t_decontaminate_bloom": bl,
            "t_inverted_index": ii,
            "t_rare_bigrams": rbt,
            "t_dup_spans": ds,
            "t_dup_spans_exact": dsx,
            "t_gopher_repetition": gm,
            "t_quality_classifier": cm,
            "sim_pq_encode": pqm,
            "t_bpe_train": bt,
            "t_lang_id": lm,
            "t_lang_id_hashed": lhm,
            "t_seq_pack": pk,
            "t_pack_bestfit": bf,
            "c_sft_tokens": sfm,
            "t_seq_shuffle": es,
            "o6_zorder_layout": zm,
            "g_pagerank": gp,
            "g_hits": gh,
            "t_paragraph_dedup": pdm,
            "sim_bitext_margin": bx,
            "t_bm25_retrieval": bm,
            "t_bm25_probe": bmp,
        }
        if cfg.get("events", True):
            results[name]["e_sessionization"] = timed_sessionize(out_dir)
        print(f"{name}: {json.dumps(results[name])}", file=sys.stderr)

    summary = summarize(results)
    out = {"configs": results, "summary": summary}
    (REPO / "BENCH_scale.json").write_text(json.dumps(out, indent=1) + "\n")
    print(json.dumps(out))
    spark.stop()
    if not summary["x100_linearity_ok"]:
        print(
            "FAIL: x10->x100 decade shuffle growth outside 10+/-15%: "
            f"{summary['x100_linearity']}",
            file=sys.stderr,
        )
        sys.exit(1)


# ---------- media tier (round-14): image/video near-dup + unigram ----------
#
# The round-13 families' "measured, not argued" receipts. Tier sizes
# mirror the text battery (550 families/videos per replica; media_x100
# = 55k families — deliberately under 2^16, see build_images). Results
# MERGE into the existing BENCH_scale.json (configs media_base /
# media_x10 / media_x10_dup4x / media_x100; summary keys derived in
# summarize()) so the text battery never re-runs for a media receipt.

IMG_FAMILIES = 320  # per replica; x100 -> 32_000 <= 2^15 (see build_images)
MEDIA_DUP_OFFSET = 10_000_000
VID_PER_REPLICA = 550
VID_FRAMES = 8
VID_HOT_PCT = 20  # % of videos carrying the planted ubiquitous frame
VID_CAP = 50  # max_hash_videos for the capped runs


def _board_for_dhash(hex16: str):
    """9x8 grayscale board whose dHash is EXACTLY ``hex16``: per row
    y the target byte is hex16[2y:2y+2]; pixels walk v[0]=128,
    v[x+1] = v[x]-1 if bit (7-x) set else v[x]+1, so
    grid[y][x] > grid[y][x+1] reproduces each bit (values stay in
    120..136; grayscale of equal RGB is exact — (299+587+114)v//1000
    = v)."""
    import numpy as np

    rows = []
    for y in range(8):
        b = int(hex16[2 * y : 2 * y + 2], 16)
        v = [128]
        for x in range(8):
            v.append(v[-1] - 1 if (b >> (7 - x)) & 1 else v[-1] + 1)
        rows.append(v)
    g = np.array(rows, dtype=np.uint8)
    return np.stack([g, g, g], axis=-1)


def build_images(spark, replicas: int, dup_pct: int, out_dir: str) -> None:
    """Image corpus for the near-dup scale tier, REAL BMPs end to end
    (the measured chain is decode -> dHash -> band -> join). Per
    family f: TWO exact-dup originals A/B (the re-upload shape,
    identical pixels) whose four 16-bit dHash bands all equal the
    EVEN value 2f, plus — at the ``dup_pct``% gate — one Hamming-3
    near-dup whose bands 1-3 flip bit 0 to the ODD value 2f+1 (band
    0 still collides, the confirm accepts at Hamming 3). Disjoint
    namespaces by PARITY: family values are all even and unique,
    perturbed values all odd and unique, so no band bucket ever
    holds two families — pure corpus growth with ZERO accidental
    candidates (the text corpus' replica-suffix rule applied to
    bits). That proof needs 2f+1 < 2^16, hence the hard 32768-family
    cap. Confirmed pairs per tier are exactly n_families (A-B) +
    2 x n_dups (dup-A, dup-B) — linear by construction."""
    import pandas as pd

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from mongodb_etl_migration_spark.operators.multimodal import encode_bmp

    n = IMG_FAMILIES * replicas
    if n > 32_768:
        raise ValueError("image tier exceeds the parity-disjoint cap")

    def synth(batches):
        for pdf in batches:
            ids, payloads = [], []
            for f in pdf["id"]:
                f = int(f)
                hx = f"{2 * f:04x}" * 4
                orig = encode_bmp(_board_for_dhash(hx))
                ids.append(f)
                payloads.append(orig)
                ids.append(5_000_000 + f)  # exact-dup re-upload B
                payloads.append(orig)
                if f % 100 < dup_pct:
                    # bands 1..3 flip bit 0: even 2f -> odd 2f+1
                    hd = f"{2 * f:04x}" + f"{2 * f + 1:04x}" * 3
                    ids.append(MEDIA_DUP_OFFSET + f)
                    payloads.append(encode_bmp(_board_for_dhash(hd)))
            yield pd.DataFrame(
                {
                    "doc_id": pd.array(ids, dtype="int64"),
                    "payload": payloads,
                    "meta": [
                        {"media_type": "image", "byte_size": len(p)}
                        for p in payloads
                    ],
                }
            )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
            StructField(
                "meta",
                StructType(
                    [
                        StructField("media_type", StringType()),
                        StructField("byte_size", LongType()),
                    ]
                ),
            ),
        ]
    )
    spark.range(n).repartition(32).mapInPandas(synth, schema).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/images")


def build_video_frames(spark, replicas: int, dup_pct: int, out_dir: str) -> None:
    """Per-frame perceptual keys at the video_dhash_frames OUTPUT
    contract (doc_id, frame_idx, dhash): the decode stage is a
    zero-shuffle Arrow fan-out (m_video_neardup's plan receipt), so
    the scale tier synthesizes frames directly and measures the join
    the corpus size actually stresses. Per video: VID_FRAMES unique
    frame keys; VID_HOT_PCT% of videos append one shared 'HOT' frame
    (the planted black-frame/test-card bucket the cap exists for); a
    planted dup (``dup_pct``% gate) shares its source's first two
    frames plus two of its own — n_shared=2 exactly."""
    vids = spark.range(VID_PER_REPLICA * replicas).select(
        F.col("id").alias("doc_id")
    )
    frames = vids.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.concat(
                        F.col("doc_id").cast("string"), F.lit(f":{k}")
                    )
                    for k in range(VID_FRAMES)
                ]
            )
        ).alias("frame_idx", "dhash"),
    )
    hot = vids.filter(F.col("doc_id") % 100 < VID_HOT_PCT).select(
        "doc_id",
        F.lit(VID_FRAMES).alias("frame_idx"),
        F.lit("HOT").alias("dhash"),
    )
    dup_src = vids.filter(F.col("doc_id") % 100 < dup_pct)
    dups = dup_src.select(
        (F.col("doc_id") + F.lit(MEDIA_DUP_OFFSET)).alias("did"),
        F.posexplode(
            F.array(
                F.concat(F.col("doc_id").cast("string"), F.lit(":0")),
                F.concat(F.col("doc_id").cast("string"), F.lit(":1")),
                F.concat(
                    (F.col("doc_id") + F.lit(MEDIA_DUP_OFFSET)).cast(
                        "string"
                    ),
                    F.lit(":own2"),
                ),
                F.concat(
                    (F.col("doc_id") + F.lit(MEDIA_DUP_OFFSET)).cast(
                        "string"
                    ),
                    F.lit(":own3"),
                ),
            )
        ).alias("frame_idx", "dhash"),
    ).select(
        F.col("did").alias("doc_id"), "frame_idx", "dhash"
    )
    frames.unionByName(hot.select("doc_id", "frame_idx", "dhash")).unionByName(
        dups
    ).withColumn("frame_idx", F.col("frame_idx").cast("long")).repartition(
        32
    ).write.mode("overwrite").parquet(f"{out_dir}/video_frames")


def media_main() -> None:
    from mongodb_etl_migration_spark.operators import multimodal as M
    from mongodb_etl_migration_spark.operators import unigram as U

    spark = get_spark(
        app_name="bench_scale_media",
        extra_conf={"spark.ui.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    ui = UiMetrics(spark)
    media: dict[str, dict] = {}

    def timed_unigram(docs) -> dict:
        """unigram_train returns a list (the vocab), not a DataFrame:
        measure around the CALL, the bpe_train rule.
        mode='arrow' — the production E-step path; fixed model params
        (vocab_size/seed_size) while the corpus grows, the
        fixed-lid-model rule."""
        stats, vocab = timed(
            lambda: U.unigram_train(
                docs, "text", vocab_size=24, seed_size=60, rounds=2,
                mode="arrow",
            ),
            ui,
        )
        stats["pieces"] = len(vocab)
        return stats

    for name, reps in (
        ("media_base", 1), ("media_x10", 10), ("media_x100", 100)
    ):
        out_dir = f"/tmp/bench_scale_{name}"
        build_images(spark, reps, 10, out_dir)
        build_video_frames(spark, reps, 10, out_dir)
        mm = spark.read.parquet(f"{out_dir}/images")
        pairs = M.image_neardup_pairs(M.image_dhash(mm))
        im = warm(ui, pairs)
        im["pairs_found"] = pairs.count()
        frames = spark.read.parquet(f"{out_dir}/video_frames")
        vp = M.video_neardup_pairs(
            frames, min_shared=2, max_hash_videos=VID_CAP
        )
        vc = warm(ui, vp)
        vc["pairs_found"] = vp.count()
        entry = {
            "images": mm.count(),
            "families": IMG_FAMILIES * reps,
            "videos": VID_PER_REPLICA * reps,
            "dup_pct": 10,
            "hot_pct": VID_HOT_PCT,
            "m_image_neardup": im,
            "m_video_neardup_capped": vc,
        }
        if name == "media_x10":
            vpu = M.video_neardup_pairs(frames, min_shared=2)
            vu = warm(ui, vpu)
            vu["pairs_found"] = vpu.count()
            entry["m_video_neardup_uncapped"] = vu
            d4_dir = f"/tmp/bench_scale_media_x10_dup4x"
            build_images(spark, reps, 40, d4_dir)
            mm4 = spark.read.parquet(f"{d4_dir}/images")
            p4 = M.image_neardup_pairs(M.image_dhash(mm4))
            im4 = warm(ui, p4)
            im4["pairs_found"] = p4.count()
            media["media_x10_dup4x"] = {
                "images": mm4.count(),
                "families": IMG_FAMILIES * reps,
                "dup_pct": 40,
                "m_image_neardup": im4,
            }
        if name in ("media_base", "media_x10"):
            text_dir = f"/tmp/bench_scale_{'base' if reps == 1 else 'x10'}"
            if not Path(f"{text_dir}/documents").exists():
                build_corpus(spark, reps, 10, text_dir)
            docs = spark.read.parquet(f"{text_dir}/documents")
            entry["t_unigram_train"] = timed_unigram(docs)
        media[name] = entry
        print(f"{name}: {json.dumps(media[name])}", file=sys.stderr)

    path = REPO / "BENCH_scale.json"
    data = json.loads(path.read_text())
    data["configs"].update(media)
    data["summary"] = summarize(data["configs"])
    path.write_text(json.dumps(data, indent=1) + "\n")
    print(json.dumps(data["summary"]))
    spark.stop()
    if not data["summary"]["x100_linearity_ok"]:
        print(
            "FAIL: x10->x100 decade shuffle growth outside 10+/-15%: "
            f"{data['summary']['x100_linearity']}",
            file=sys.stderr,
        )
        sys.exit(1)


def resummarize() -> None:
    """Recompute the derived summary from the measured configs in the
    existing BENCH_scale.json (no re-run): used when only the ratio
    DERIVATION changes, never to alter measured data."""
    path = REPO / "BENCH_scale.json"
    data = json.loads(path.read_text())
    data["summary"] = summarize(data["configs"])
    path.write_text(json.dumps(data, indent=1) + "\n")
    print(json.dumps(data["summary"]))
    if not data["summary"]["x100_linearity_ok"]:
        sys.exit(1)


if __name__ == "__main__":
    if "--resummarize" in sys.argv:
        resummarize()
    elif "--media" in sys.argv:
        media_main()
    else:
        main()
