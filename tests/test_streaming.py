"""Structured-Streaming tests.

The reference has no streaming (SURVEY §2.10) — these check that the
SAME batch plan applied per micro-batch via foreachBatch equals the
batch run, and that a watermarked windowed aggregation equals its
oracle-checked batch twin (e_windowed_counts).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from mongodb_etl_migration_spark.catalog import Catalog
from mongodb_etl_migration_spark.streaming.incremental import (
    windowed_event_counts,
)


def _each_batch(stream: DataFrame, transform, sink: str, ckpt: str) -> StreamingQuery:
    """Run ``transform`` on every micro-batch of ``stream`` until the
    input is drained, appending each result under ``sink``."""
    return (
        stream.writeStream.foreachBatch(
            lambda df, _bid: transform(df).write.mode("append").parquet(sink)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def test_windowed_counts_streaming_equals_batch(spark, sf_dir, tmp_path):
    events = Catalog(spark, sf_dir).events
    src_dir = str(tmp_path / "wsrc")
    events.write.parquet(src_dir)
    stream = spark.readStream.schema(
        spark.read.parquet(src_dir).schema
    ).parquet(src_dir)

    sink = str(tmp_path / "wsink")
    ckpt = str(tmp_path / "wckpt")
    q = (
        windowed_event_counts(stream, streaming=True)
        .writeStream.outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", sink)
        .start()
    )
    q.awaitTermination(120)

    batch = windowed_event_counts(spark.read.parquet(src_dir))
    got = spark.read.parquet(sink)
    # append mode emits only windows the watermark has closed; every
    # emitted window must match its batch twin exactly.
    joined = got.alias("g").join(
        batch.alias("b"), ["window_start", "event_type"], "inner"
    )
    assert joined.count() == got.count()
    mismatches = joined.filter(
        (F.col("g.n_events") != F.col("b.n_events"))
        | (F.col("g.sum_value") != F.col("b.sum_value"))
    ).count()
    assert mismatches == 0
    assert got.count() > 0


def test_incremental_entity_plan(spark, tmp_path):
    """The SAME entity spec the batch DAG compiles runs incrementally
    via foreachBatch (one code path, two execution modes): stream the
    users collection, apply compile_entity per micro-batch (windows and
    broadcast FK joins are legal there — batches are plain DataFrames),
    compare against the batch run."""
    from datetime import datetime

    from mongodb_etl_migration_spark.fixtures import (
        municipalities_df,
        provinces_df,
        roles_df,
        users_df,
    )
    from mongodb_etl_migration_spark.pipeline import (
        municipality_spec,
        province_spec,
        role_spec,
        user_spec,
    )
    from mongodb_etl_migration_spark.plans.compiler import compile_entity

    run_ts = datetime(2021, 1, 1)
    role = compile_entity(role_spec(), roles_df(spark))
    province = compile_entity(province_spec(), provinces_df(spark))
    id_maps = {
        "province": province.select(
            F.col("mongo_id").alias("natural_key"), F.col("id")
        ),
        "role_by_name": role.select(F.col("name").alias("natural_key"), F.col("id")),
    }
    municipality = compile_entity(
        municipality_spec(), municipalities_df(spark), id_maps
    )
    id_maps["municipality"] = municipality.select(
        F.col("mongo_id").alias("natural_key"), F.col("id")
    )

    src_dir = str(tmp_path / "usrc")
    users_df(spark).coalesce(1).write.parquet(src_dir)
    stream = spark.readStream.schema(
        spark.read.parquet(src_dir).schema
    ).parquet(src_dir)

    sink = str(tmp_path / "usink")
    q = _each_batch(
        stream,
        lambda df: compile_entity(user_spec(run_ts), df, id_maps),
        sink,
        str(tmp_path / "uckpt"),
    )
    q.awaitTermination(120)

    got = spark.read.parquet(sink)
    want = compile_entity(user_spec(run_ts), spark.read.parquet(src_dir), id_maps)
    assert got.count() == want.count()
    assert sorted(got.columns) == sorted(want.columns)
    assert got.select("mongo_id", "name", "role_id", "dni").exceptAll(
        want.select("mongo_id", "name", "role_id", "dni")
    ).count() == 0


def test_stream_stream_attribution_join_equals_batch(spark, sf_dir, tmp_path):
    """Stream-stream interval join (watermarked both sides) over
    single-micro-batch sources equals the oracle-checked batch twin:
    inner stream-stream joins emit eagerly as both sides' rows arrive,
    so availableNow over static data reproduces the batch result
    exactly."""
    from mongodb_etl_migration_spark.streaming.joins import (
        interval_attribution_join,
    )

    events = Catalog(spark, sf_dir).events
    src_dir = str(tmp_path / "jsrc")
    events.coalesce(1).write.parquet(src_dir)

    def split(df):
        purchases = df.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        return purchases, clicks

    schema = spark.read.parquet(src_dir).schema
    sp, sc = split(spark.readStream.schema(schema).parquet(src_dir))
    sink = str(tmp_path / "jsink")
    q = (
        interval_attribution_join(
            sp, sc, key="user_id", left_ts="purchase_ts",
            right_ts="click_ts", lookback="30 minutes", streaming=True,
        )
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "jckpt"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", sink)
        .start()
    )
    q.awaitTermination(180)

    bp, bc = split(spark.read.parquet(src_dir))
    want = interval_attribution_join(
        bp, bc, key="user_id", left_ts="purchase_ts",
        right_ts="click_ts", lookback="30 minutes",
    ).select(
        "purchase_id",
        "user_id",
        F.col("purchase_ts").cast("timestamp").alias("purchase_ts"),
        "click_id",
        F.col("click_ts").cast("timestamp").alias("click_ts"),
    )
    got = spark.read.parquet(sink).select(*want.columns)
    assert got.count() == want.count() > 0
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


def test_drop_duplicates_within_watermark(spark, sf_dir, tmp_path):
    """Builtin streaming dedup twin (dropDuplicatesWithinWatermark):
    planted duplicate event_ids within the watermark window are
    dropped; state is watermark-bounded (vs the custom
    transformWithState dedup, which offers TTL + first-wins-by-order
    control)."""
    events = Catalog(spark, sf_dir).events.select(
        "event_id", "user_id", F.col("ts").cast("timestamp").alias("ts")
    )
    dup = events.limit(200)  # plant exact duplicates
    src = events.unionByName(dup)
    src_dir = str(tmp_path / "ddsrc")
    src.coalesce(1).write.parquet(src_dir)
    stream = spark.readStream.schema(
        spark.read.parquet(src_dir).schema
    ).parquet(src_dir)

    sink = str(tmp_path / "ddsink")
    q = (
        stream.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .writeStream.outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ddckpt"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", sink)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(sink)
    assert got.count() == events.count()  # every duplicate dropped
    assert got.groupBy("event_id").count().filter("count > 1").count() == 0


def test_streaming_curation_gates_match_batch(spark, sf_dir, tmp_path):
    """The LLM-curation gates run UNCHANGED under Structured Streaming
    via foreachBatch (one code path, two execution modes): a
    crawler drops two document shards, each micro-batch flows through
    Gopher repetition gate → quality classifier → language ID → BPE
    token count, and the union of streamed batches equals the batch
    run over the concatenated input row-for-row. classifier/lang
    aggregations are per-micro-batch (foreachBatch runs the batch
    plan), exactly the per-shard semantics a drop-by-drop curation
    pipeline wants."""
    from mongodb_etl_migration_spark.operators import text as T

    docs = Catalog(spark, sf_dir).documents.select(
        "doc_id", "source", "text"
    )
    src_dir = str(tmp_path / "drops")
    docs.filter(F.col("doc_id") % 2 == 0).write.parquet(
        f"{src_dir}/shard=a"
    )
    docs.filter(F.col("doc_id") % 2 == 1).write.parquet(
        f"{src_dir}/shard=b"
    )
    schema = spark.read.parquet(src_dir).schema
    stream = spark.readStream.schema(schema).option(
        "recursiveFileLookup", "true"
    ).parquet(src_dir)

    def curate(df):
        toked = df.select(
            "doc_id", "source", "text", T.tokens("text").alias("_toks")
        )
        flags = T.gopher_repetition_flags("text", toks=F.col("_toks"))
        gated = toked.filter(flags["gopher_rep_pass"])
        cls = T.classifier_margin(df, "doc_id", "text")
        lang = T.lang_id_ngram(df, "doc_id", "text")
        return (
            gated.join(cls.filter("keep").select("doc_id", "margin"), "doc_id")
            .join(lang.select("doc_id", "lang_pred"), "doc_id")
            .select(
                "doc_id",
                "source",
                "lang_pred",
                "margin",
                T.bpe_token_count("text", toks="_toks").alias("n_bpe"),
            )
        )

    sink = str(tmp_path / "curated")
    ckpt = str(tmp_path / "ckpt")
    q = _each_batch(stream, curate, sink, ckpt)
    q.awaitTermination(180)

    got = spark.read.parquet(sink)
    want = curate(spark.read.option("recursiveFileLookup", "true").parquet(src_dir))
    g = {tuple(r) for r in got.collect()}
    w = {tuple(r) for r in want.collect()}
    assert g == w and len(g) > 0


def test_streaming_sft_ingest_matches_batch(spark, tmp_path):
    """Drop-by-drop SFT-dump curation, one code path (round-12
    stretch): a producer lands JSONL shards of message dumps
    (payload = JSON-encoded messages array, one line malformed JSON,
    one line a corrupt payload), the stream tails the directory and
    each micro-batch runs parse_turns_json → conv_dedup_probe
    against the PERSISTED history index — and the union of streamed
    batches equals the batch run over the concatenated drops
    row-for-row. The history index is scanned per micro-batch, never
    re-keyed (the conv_dedup_probe broadcast-batch rule)."""
    import json

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from mongodb_etl_migration_spark.operators import chat as CH
    from mongodb_etl_migration_spark.sources.jsonl import read_jsonl

    def msgs(*contents, first_role="user"):
        roles = ["user", "assistant"]
        if first_role != "user":
            roles = roles[::-1]
        return [
            {"role": roles[i % 2], "content": c}
            for i, c in enumerate(contents)
        ]

    # history: two conversations, keyed once into the persisted index
    hist_rows = [
        (1, msgs("how do i sort", "use order by", "and joins?", "shuffle")),
        (2, msgs("what is bfd", "best fit decreasing")),
    ]
    hist = spark.createDataFrame(
        [(c, json.dumps(m)) for c, m in hist_rows],
        "conv_id long, payload string",
    ).select(
        F.col("conv_id").alias("doc_id"),
        CH.parse_turns_json("payload").alias("turns"),
    )
    idx_path = str(tmp_path / "convidx")
    CH.conversation_dedup(hist).write.parquet(idx_path)

    # two landing drops: 10 duplicates history-1's assistant
    # transcript under a paraphrased user side; 11 is new; 12 is a
    # MALFORMED payload (parses to the empty conversation); one raw
    # line is not JSON at all (corrupt-record capture)
    drops = str(tmp_path / "drops")
    import os

    os.makedirs(drops)
    d1 = [
        {"conv_id": 10, "payload": json.dumps(
            msgs("different words", "use order by", "more?", "shuffle"))},
        {"conv_id": 11, "payload": json.dumps(msgs("new", "fresh answer"))},
    ]
    d2 = [
        {"conv_id": 12, "payload": json.dumps(msgs("x", "y"))[:-5]},
        {"conv_id": 13, "payload": json.dumps(
            msgs("again different", "use order by", "eh?", "shuffle"))},
    ]
    with open(f"{drops}/a.jsonl", "w") as f:
        for r in d1:
            f.write(json.dumps(r) + "\n")
    with open(f"{drops}/b.jsonl", "w") as f:
        for r in d2:
            f.write(json.dumps(r) + "\n")
        f.write("{this is not json\n")

    schema = StructType(
        [
            StructField("conv_id", LongType()),
            StructField("payload", StringType()),
        ]
    )
    index = spark.read.parquet(idx_path)

    def curate(df):
        batch = df.filter(F.col("conv_id").isNotNull()).select(
            F.col("conv_id").alias("doc_id"),
            CH.parse_turns_json("payload").alias("turns"),
        )
        return CH.conv_dedup_probe(batch, index)

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(drops)
    )
    q = _each_batch(stream, curate, sink, ckpt)
    q.awaitTermination(180)

    got = {tuple(r) for r in spark.read.parquet(sink).collect()}
    want = {
        tuple(r)
        for r in curate(read_jsonl(spark, drops, schema)).collect()
    }
    assert got == want and len(got) > 0
    # the probe found exactly the two history-duplicate transcripts
    # (10 and 13 share hist-1's assistant turns); 11 is new, 12
    # degraded to the empty conversation whose key only matches an
    # empty-transcript history entry (absent here)
    assert sorted(r[0] for r in got) == [10, 13]
    kept = {r[0]: r[2] for r in got}
    assert kept == {10: 1, 13: 1}


def test_streaming_image_ingest_matches_batch(spark, tmp_path):
    """Drop-by-drop image near-dup ingest, one code path (round-14
    stretch — the streaming-curation convention applied to the image
    family): a producer lands parquet shards of raw image payloads,
    the stream tails the directory, and each micro-batch decodes →
    dHashes → probes the PERSISTED band index → APPENDS its own
    hashes (multimodal.write_dhash_index mode='append', the additive
    maintenance path). The union of streamed batches equals the
    sequential batch twin row-for-row; a drop-B image whose only
    near-dup arrived in drop A matches BECAUSE the in-loop append
    advanced the index; and the maintained index is row- and
    stats-identical to a from-scratch rebuild over history + drops."""
    import hashlib
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mongodb_etl_migration_spark.operators import multimodal as M

    def board(seed):
        v = np.array(
            [
                [
                    int(
                        hashlib.md5(f"{seed}_{y}_{x}".encode())
                        .hexdigest()[:2],
                        16,
                    )
                    for x in range(9)
                ]
                for y in range(8)
            ],
            dtype=np.int64,
        )
        return np.stack([v, v, v], axis=-1).astype(np.uint8)

    def perturb(px):
        out = px.copy().astype(np.int64)
        out[0:3, 0, :] = 255 - out[0:3, 0, :]  # <=3 difference bits
        return out.astype(np.uint8)

    def mm(rows):
        return spark.createDataFrame(
            rows, "doc_id bigint, payload binary"
        )

    hist = mm([(i + 1, M.encode_bmp(board(i))) for i in range(3)])
    idx = str(tmp_path / "dhashidx")
    M.write_dhash_index(M.image_dhash(hist), idx)

    # drop A: 10 = PNG re-encode of history board 0 (codec-invariant
    # exact hash), 11 = fresh board; drop B: 12 = perturbed history
    # board 1 (Hamming <= 3), 13 = fresh, 14 = PNG re-encode of 11 —
    # its ONLY near-dup arrived in drop A, so a match proves the
    # per-batch append advanced the index
    drop_a = [
        (10, M.encode_png(board(0))),
        (11, M.encode_bmp(board(100))),
    ]
    drop_b = [
        (12, M.encode_bmp(perturb(board(1)))),
        (13, M.encode_bmp(board(101))),
        (14, M.encode_png(board(100))),
    ]
    drops = str(tmp_path / "drops")
    os.makedirs(drops)
    for name, rows, mtime in (
        ("a.parquet", drop_a, 1_000_000_000),
        ("b.parquet", drop_b, 1_000_000_100),
    ):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(
                        [r[0] for r in rows], type=pa.int64()
                    ),
                    "payload": pa.array(
                        [r[1] for r in rows], type=pa.binary()
                    ),
                }
            ),
            f"{drops}/{name}",
        )
        os.utime(f"{drops}/{name}", (mtime, mtime))

    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def ingest(batch_df, batch_id):
        dh = M.image_dhash(batch_df).localCheckpoint(eager=True)
        M.image_neardup_against_index(dh, idx).write.mode(
            "overwrite"
        ).parquet(f"{sink}/batch_id={batch_id}")
        M.write_dhash_index(dh, idx, mode="append")

    q = (
        spark.readStream.schema("doc_id bigint, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(
        (r.id_new, r.id_indexed, r.hamming)
        for r in spark.read.parquet(sink).collect()
    )

    # sequential batch twin: same probe-then-append over a second
    # index copy, plain DataFrames — streaming adds/loses nothing
    idx2 = str(tmp_path / "dhashidx2")
    M.write_dhash_index(M.image_dhash(hist), idx2)
    want = []
    for rows in (drop_a, drop_b):
        dh = M.image_dhash(mm(rows)).localCheckpoint(eager=True)
        want.extend(
            (r.id_new, r.id_indexed, r.hamming)
            for r in M.image_neardup_against_index(dh, idx2).collect()
        )
        M.write_dhash_index(dh, idx2, mode="append")
    assert got == sorted(want)
    assert [(n, i) for n, i, _h in got] == [(10, 1), (12, 2), (14, 11)]
    assert got[0][2] == 0 and got[2][2] == 0 and got[1][2] <= 3

    # maintained index == from-scratch rebuild (rows AND stats)
    rebuilt = str(tmp_path / "dhashidx3")
    all_mm = mm(
        [(i + 1, M.encode_bmp(board(i))) for i in range(3)]
        + drop_a
        + drop_b
    )
    M.write_dhash_index(M.image_dhash(all_mm), rebuilt)
    rows_of = lambda p: sorted(
        (int(r.band), r.band_key, r.doc_id, r.dhash)
        for r in spark.read.parquet(p).collect()
    )
    assert rows_of(idx) == rows_of(rebuilt)
    stats_of = lambda p: [
        (r.bands, r.n_images)
        for r in spark.read.parquet(f"{p}/_stats").collect()
    ]
    assert stats_of(idx) == stats_of(rebuilt)


def test_streaming_video_ingest_matches_batch(spark, tmp_path):
    """Drop-by-drop video near-dup ingest (the image-ingest
    convention over the NEW video frame index): parquet shards of
    raw GIF payloads, per micro-batch decode → dHash frames → probe
    the persisted (kb, dhash) postings → append (additive
    maintenance, stats re-derived). Streamed union == sequential
    batch twin; a drop-B trim of a drop-A reel matches because the
    in-loop append advanced the index; maintained index rows+stats
    == from-scratch rebuild."""
    import hashlib
    import os

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mongodb_etl_migration_spark.operators import multimodal as M

    pal = np.array([[4 * i] * 3 for i in range(64)], dtype=np.uint8)

    def gif(seeds):
        frames = [
            np.array(
                [
                    [
                        int(
                            hashlib.md5(f"{s}_{y}_{x}".encode())
                            .hexdigest()[:2],
                            16,
                        )
                        // 4
                        for x in range(9)
                    ]
                    for y in range(8)
                ],
                dtype=np.uint8,
            )
            for s in seeds
        ]
        return encode(frames)

    def encode(frames):
        return M.encode_gif(frames, pal)

    def reel(base, offset=0, n=4):
        return gif([base + offset + k for k in range(n)])

    def mm(rows):
        return spark.createDataFrame(
            rows, "doc_id bigint, payload binary"
        )

    hist = mm([(i + 1, reel(i * 1000)) for i in range(2)])
    idx = str(tmp_path / "vidx")
    M.write_video_frame_index(M.video_dhash_frames(hist), idx, every_n=1)

    # drop A: 10 = trim of history reel 0 (shares 3 frames), 11 =
    # fresh reel; drop B: 12 = trim of 11 — its only near-dup
    # arrived in drop A (the in-loop append proof), 13 = fresh
    drop_a = [(10, reel(0, offset=1)), (11, reel(5000))]
    drop_b = [(12, reel(5000, offset=1)), (13, reel(7000))]
    drops = str(tmp_path / "vdrops")
    os.makedirs(drops)
    for name, rows, mtime in (
        ("a.parquet", drop_a, 1_000_000_000),
        ("b.parquet", drop_b, 1_000_000_100),
    ):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(
                        [r[0] for r in rows], type=pa.int64()
                    ),
                    "payload": pa.array(
                        [r[1] for r in rows], type=pa.binary()
                    ),
                }
            ),
            f"{drops}/{name}",
        )
        os.utime(f"{drops}/{name}", (mtime, mtime))

    sink = str(tmp_path / "vsink")
    ckpt = str(tmp_path / "vckpt")

    def ingest(batch_df, batch_id):
        batch_df = batch_df.localCheckpoint(eager=True)
        M.video_neardup_against_index(batch_df, idx, min_shared=2).write.mode(
            "overwrite"
        ).parquet(f"{sink}/batch_id={batch_id}")
        M.write_video_frame_index(
            M.video_dhash_frames(batch_df), idx, every_n=1, mode="append"
        )

    q = (
        spark.readStream.schema("doc_id bigint, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(
        (r.id_new, r.id_indexed, r.n_shared)
        for r in spark.read.parquet(sink).collect()
    )
    idx2 = str(tmp_path / "vidx2")
    M.write_video_frame_index(M.video_dhash_frames(hist), idx2, every_n=1)
    want = []
    for rows in (drop_a, drop_b):
        b = mm(rows).localCheckpoint(eager=True)
        want.extend(
            (r.id_new, r.id_indexed, r.n_shared)
            for r in M.video_neardup_against_index(
                b, idx2, min_shared=2
            ).collect()
        )
        M.write_video_frame_index(
            M.video_dhash_frames(b), idx2, every_n=1, mode="append"
        )
    assert got == sorted(want)
    assert [(n, i, s) for n, i, s in got] == [(10, 1, 3), (12, 11, 3)]

    rebuilt = str(tmp_path / "vidx3")
    M.write_video_frame_index(
        M.video_dhash_frames(
            mm([(i + 1, reel(i * 1000)) for i in range(2)] + drop_a + drop_b)
        ),
        rebuilt,
        every_n=1,
    )
    rows_of = lambda p: sorted(
        (int(r.kb), r.dhash, r.doc_id)
        for r in spark.read.parquet(p).collect()
    )
    assert rows_of(idx) == rows_of(rebuilt)
    stats_of = lambda p: [
        (r.buckets, r.every_n, r.n_videos)
        for r in spark.read.parquet(f"{p}/_stats").collect()
    ]
    assert stats_of(idx) == stats_of(rebuilt)


def test_streaming_audio_ingest_matches_batch(spark, tmp_path):
    """Drop-by-drop audio near-dup ingest — completes the
    image/video/audio streaming matrix: parquet shards of raw PCM16
    WAV payloads, per micro-batch decode → fingerprint (with the
    INDEX's own window/lags) → probe the persisted (kb, fkey)
    postings → append. Streamed union == sequential batch twin; a
    drop-B trim of a drop-A reel matches because the in-loop append
    advanced the index; maintained index rows+stats == rebuild."""
    import hashlib
    import io
    import os
    import wave

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from mongodb_etl_migration_spark.operators import multimodal as M

    def reel(fam, cs):
        out = []
        for c in cs:
            for i in range(256):
                h = int(
                    hashlib.md5(f"{fam}:{c}:{i}".encode()).hexdigest()[:4],
                    16,
                )
                out.append((h % 16384) - 8192)
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(np.array(out, dtype="<i2").tobytes())
        return buf.getvalue()

    def mm(rows):
        return spark.createDataFrame(
            rows, "doc_id bigint, payload binary"
        )

    hist = mm([(1, reel(0, range(8))), (2, reel(1, range(8)))])
    idx = str(tmp_path / "aidx")
    M.write_audio_fp_index(
        M.audio_fingerprint(hist, window=256), idx, window=256
    )

    # drop A: 10 = double-volume re-encode of reel fam0 (all 8 keys),
    # 11 = fresh fam5; drop B: 12 = window-aligned trim of fam5
    # (shares 5 with 11, which arrived in drop A), 13 = fresh fam7
    def reel2x(fam, cs):
        raw = reel(fam, cs)
        s = np.frombuffer(raw[44:], dtype="<i2").astype(np.int64) * 2
        buf = io.BytesIO()
        with wave.open(buf, "wb") as wf:
            wf.setnchannels(1)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(
                np.clip(s, -32768, 32767).astype("<i2").tobytes()
            )
        return buf.getvalue()

    drop_a = [(10, reel2x(0, range(8))), (11, reel(5, range(8)))]
    drop_b = [(12, reel(5, range(3, 11))), (13, reel(7, range(8)))]
    drops = str(tmp_path / "adrops")
    os.makedirs(drops)
    for name, rows, mtime in (
        ("a.parquet", drop_a, 1_000_000_000),
        ("b.parquet", drop_b, 1_000_000_100),
    ):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array(
                        [r[0] for r in rows], type=pa.int64()
                    ),
                    "payload": pa.array(
                        [r[1] for r in rows], type=pa.binary()
                    ),
                }
            ),
            f"{drops}/{name}",
        )
        os.utime(f"{drops}/{name}", (mtime, mtime))

    sink = str(tmp_path / "asink")
    ckpt = str(tmp_path / "ackpt")

    def ingest(batch_df, batch_id):
        batch_df = batch_df.localCheckpoint(eager=True)
        M.audio_neardup_against_index(
            batch_df, idx, min_shared=5
        ).write.mode("overwrite").parquet(f"{sink}/batch_id={batch_id}")
        M.write_audio_fp_index(
            M.audio_fingerprint(batch_df, window=256),
            idx,
            window=256,
            mode="append",
        )

    q = (
        spark.readStream.schema("doc_id bigint, payload binary")
        .option("maxFilesPerTrigger", 1)
        .parquet(drops)
        .writeStream.foreachBatch(ingest)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = sorted(
        (r.id_new, r.id_indexed, r.n_shared)
        for r in spark.read.parquet(sink).collect()
    )
    idx2 = str(tmp_path / "aidx2")
    M.write_audio_fp_index(
        M.audio_fingerprint(hist, window=256), idx2, window=256
    )
    want = []
    for rows in (drop_a, drop_b):
        b = mm(rows).localCheckpoint(eager=True)
        want.extend(
            (r.id_new, r.id_indexed, r.n_shared)
            for r in M.audio_neardup_against_index(
                b, idx2, min_shared=5
            ).collect()
        )
        M.write_audio_fp_index(
            M.audio_fingerprint(b, window=256),
            idx2,
            window=256,
            mode="append",
        )
    assert got == sorted(want)
    assert got == [(10, 1, 8), (12, 11, 5)]

    rebuilt = str(tmp_path / "aidx3")
    M.write_audio_fp_index(
        M.audio_fingerprint(
            mm(
                [(1, reel(0, range(8))), (2, reel(1, range(8)))]
                + drop_a
                + drop_b
            ),
            window=256,
        ),
        rebuilt,
        window=256,
    )
    rows_of = lambda p: sorted(
        (int(r.kb), r.fkey, r.doc_id)
        for r in spark.read.parquet(p).collect()
    )
    assert rows_of(idx) == rows_of(rebuilt)
    stats_of = lambda p: [
        (r.buckets, r.window, r.lags_json, r.n_audios)
        for r in spark.read.parquet(f"{p}/_stats").collect()
    ]
    assert stats_of(idx) == stats_of(rebuilt)
