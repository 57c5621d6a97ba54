"""ANN consistency and multimodal plumbing tests.

sim_topk_lsh has no SQL oracle (plane constants are runtime lookups);
its gate is this consistency property: every LSH hit must carry the
same cosine the bruteforce path computes, and the LSH result set must
be exactly the top-k of the probed bucket.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from mongodb_etl_migration_spark.catalog import Catalog
from mongodb_etl_migration_spark.operators import multimodal as M
from mongodb_etl_migration_spark.operators import similarity as SIM
from mongodb_etl_migration_spark.operators.dedup import connected_components


def _planes_and_query(spark, sf_dir):
    emb = Catalog(spark, sf_dir).embeddings
    rows = emb.filter(F.col("vec_id").isin(1, 2, 3, 4)).orderBy("vec_id").collect()
    planes = [[float(x) for x in r["embedding"]] for r in rows]
    q = [
        float(x)
        for x in emb.filter(F.col("vec_id") == 0).head()["embedding"]
    ]
    return emb, planes, q


def test_lsh_topk_subset_of_bruteforce_scores(spark, sf_dir):
    emb, planes, q = _planes_and_query(spark, sf_dir)
    brute = {
        r["vec_id"]: r["cos_sim"]
        for r in SIM.cosine_topk(emb, q, k=10_000).collect()
    }
    lsh = SIM.ann_topk_lsh(emb, q, planes, k=10).collect()
    assert lsh  # the query's own bucket is never empty (contains itself)
    for r in lsh:
        # identical cosine as the exact path
        assert r["vec_id"] in brute
        assert abs(r["cos_sim"] - brute[r["vec_id"]]) < 1e-9
    # the probed bucket contains the query vector itself at cos 1.0
    assert any(r["vec_id"] == 0 and r["cos_sim"] == 1.0 for r in lsh)
    # LSH hits are exactly the top-k of the bucket: scores descend
    scores = [r["cos_sim"] for r in lsh]
    assert scores == sorted(scores, reverse=True)


def test_multimodal_decode_schema_and_determinism(spark, sf_dir):
    docs = Catalog(spark, sf_dir).documents
    mm = M.attach_binary_payload(docs, "doc_id", "text", "image")
    # payload is opaque binary + typed metadata struct
    assert dict(mm.dtypes)["payload"] == "binary"
    decoded = M.decode_media(mm)
    assert [f.name for f in decoded.schema.fields] == [
        "doc_id", "media_type", "byte_size", "width", "height",
        "n_frames", "content_digest",
    ]
    n = docs.count()
    assert decoded.count() == n
    # deterministic stub: same input → same digest across two runs
    a = {r["doc_id"]: r["content_digest"] for r in decoded.collect()}
    b = {
        r["doc_id"]: r["content_digest"]
        for r in M.decode_media(mm).collect()
    }
    assert a == b
    # byte_size matches the payload length
    joined = decoded.join(
        mm.select("doc_id", F.length("payload").alias("true_len")), "doc_id"
    )
    assert joined.filter(F.col("byte_size") != F.col("true_len")).count() == 0


def test_multimodal_frame_sampling(spark, sf_dir):
    docs = Catalog(spark, sf_dir).documents
    mm = M.attach_binary_payload(docs, "doc_id", "text", "video")
    n = docs.count()

    frames = M.sample_frames(mm, every_n=8)
    # 1→N fan-out: every doc contributes ≥1 frame, idx stride 8
    assert frames.select("doc_id").distinct().count() == n
    assert frames.filter(F.col("frame_idx") % 8 != 0).count() == 0
    # deterministic digests across two runs
    a = {(r["doc_id"], r["frame_idx"]): r["frame_digest"] for r in frames.collect()}
    b = {
        (r["doc_id"], r["frame_idx"]): r["frame_digest"]
        for r in M.sample_frames(mm, every_n=8).collect()
    }
    assert a == b


def test_l2_normalize_and_centroids(spark):
    import math

    from mongodb_etl_migration_spark.operators.similarity import (
        group_centroids,
        l2_normalize,
        norm,
    )

    df = spark.createDataFrame(
        [(1, [3.0, 4.0], "a"), (2, [0.0, 2.0], "a"), (3, [6.0, 8.0], "b")],
        "vec_id long, v array<double>, label string",
    )
    unit = df.select(l2_normalize("v").alias("u")).collect()
    for r in unit:
        assert math.isclose(sum(x * x for x in r["u"]), 1.0, rel_tol=1e-9)
    # direction preserved: normalize([3,4]) == [0.6, 0.8]
    assert [round(x, 6) for x in unit[0]["u"]] == [0.6, 0.8]

    cents = {
        r["label"]: r["centroid"]
        for r in group_centroids(df, "label", "v", dim=2).collect()
    }
    assert cents["a"] == [1.5, 3.0] and cents["b"] == [6.0, 8.0]


def test_int8_quantize_roundtrip_cosine_close(spark, sf_dir):
    """Quantize→dequantize must preserve cosine to ~1%: the memory-8x
    ANN path is useless if ranking quality collapses. Also pins the
    quantized range to [-127, 127] and exact-zero scale handling."""
    emb = Catalog(spark, sf_dir).embeddings.limit(100)
    qt = SIM.int8_quantize(emb, "vec_id", "embedding")
    joined = emb.join(qt, "vec_id").select(
        "vec_id",
        SIM._dvec("embedding").alias("v"),
        SIM.int8_dequantize(F.col("q"), F.col("scale")).alias("vd"),
        F.array_max(F.transform("q", lambda x: F.abs(x))).alias("qmax"),
    )
    stats = joined.select(
        "vec_id",
        "qmax",
        (SIM.dot("v", "vd") / (SIM.norm("v") * SIM.norm("vd"))).alias("cos"),
    ).collect()
    assert all(r.qmax <= 127 for r in stats)
    assert all(r.cos > 0.99 for r in stats), min(r.cos for r in stats)

    # all-zero vector: scale 0, q all zero (no NaN poisoning)
    z = spark.createDataFrame([(1, [0.0] * 4)], "vec_id long, embedding array<double>")
    r = SIM.int8_quantize(z, "vec_id", "embedding").head()
    assert r.scale == 0.0 and list(r.q) == [0, 0, 0, 0]


def test_tfidf_top_terms_ranks_distinctive_terms(spark):
    """A term unique to one doc must outrank corpus-wide terms."""
    from mongodb_etl_migration_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common common zebra zebra zebra"),
            (2, "common common common yak yak"),
            (3, "common filler filler"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, "doc_id", "text", k=1).collect()
    top = {r.doc_id: r.term for r in out}
    assert top[1] == "zebra" and top[2] == "yak" and top[3] == "filler"


def test_scrub_pii_and_repetition(spark):
    from mongodb_etl_migration_spark.operators.text import (
        repetition_ratio,
        scrub_pii,
    )

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@x-corp.io now", "<EMAIL>"),
            (2, "call +1 (415) 555-0134 today", "<PHONE>"),
            (3, "host 192.168.254.1 is up", "<IP>"),
            (4, "no identifiers here at all", None),
        ],
        "id long, text string, tag string",
    )
    out = {r.id: r.clean for r in df.select("id", scrub_pii("text").alias("clean")).collect()}
    assert out[1] == "mail <EMAIL> now"
    assert out[2] == "call <PHONE> today"
    assert out[3] == "host <IP> is up"
    assert out[4] == "no identifiers here at all"

    rep = spark.createDataFrame(
        [(1, "a a a a"), (2, "a b c d"), (3, "")],
        "id long, text string",
    )
    got = {r.id: r.r for r in rep.select("id", repetition_ratio("text").alias("r")).collect()}
    assert got[1] == 0.75 and got[2] == 0.0 and got[3] is None


def _make_bmp(w, h):
    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import encode_bmp

    px = np.zeros((h, w, 3), dtype=np.uint8)
    px[:, :, 0] = np.arange(w, dtype=np.uint8)[None, :]      # R = x
    px[:, :, 1] = np.arange(h, dtype=np.uint8)[:, None]      # G = y
    px[:, :, 2] = 7
    return px, encode_bmp(px)


def _make_wav(rate=8000, n=1600, ch=1):
    import io as _io
    import struct as _struct
    import wave as _wave

    buf = _io.BytesIO()
    with _wave.open(buf, "wb") as wf:
        wf.setnchannels(ch)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        samples = [int(1000 * ((i % 100) - 50) / 50) for i in range(n * ch)]
        wf.writeframes(b"".join(_struct.pack("<h", s) for s in samples))
    return buf.getvalue()


def test_real_bmp_decode(spark):
    """BMP payloads go through a REAL codec: parsed dimensions and
    channel means come from actual pixels."""
    import numpy as np

    from mongodb_etl_migration_spark.operators import multimodal as MM

    px, bmp = _make_bmp(16, 9)
    df = spark.createDataFrame(
        [(1, bytearray(bmp), ("image", len(bmp))), (2, bytearray(b"not an image"), ("image", 12))],
        "doc_id long, payload binary, meta struct<media_type:string, byte_size:bigint>",
    )
    rows = {r.doc_id: r for r in MM.decode_images(df).collect()}
    assert (rows[1].width, rows[1].height) == (16, 9)
    assert rows[1].mean_r == float(np.arange(16).mean())
    assert rows[1].mean_g == float(np.arange(9).mean())
    assert rows[1].mean_b == 7.0
    assert rows[2].width is None  # honest NULL for undecodable bytes


def test_real_wav_decode(spark):
    from mongodb_etl_migration_spark.operators import multimodal as MM

    wav = _make_wav(rate=8000, n=1600)
    df = spark.createDataFrame(
        [(1, bytearray(wav), ("audio", len(wav)))],
        "doc_id long, payload binary, meta struct<media_type:string, byte_size:bigint>",
    )
    r = MM.decode_audio(df).head()
    assert r.n_channels == 1 and r.sample_rate == 8000
    assert r.n_samples == 1600
    assert abs(r.duration_s - 0.2) < 1e-9
    assert r.rms > 0


def test_chunk_documents_overlap_and_coverage(spark):
    from mongodb_etl_migration_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(95))), (2, "a b"), (3, "")],
        "doc_id long, text string",
    )
    rows = chunk_documents(docs, "doc_id", "text", chunk_size=50, stride=40).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: starts at 1, 41, 81 -> sizes 50, 50, 15
    c1 = sorted(by_doc[1], key=lambda r: r.chunk_idx)
    assert [r.n_tokens for r in c1] == [50, 50, 15]
    # overlap: chunk k repeats the last 10 tokens of chunk k-1
    assert c1[0].chunk_text.split()[40:] == c1[1].chunk_text.split()[:10]
    # full coverage: union of chunks == all tokens
    seen = set()
    for r in c1:
        seen.update(r.chunk_text.split())
    assert seen == {f"w{i}" for i in range(95)}
    # short doc: one chunk; empty doc: none
    assert [r.n_tokens for r in by_doc[2]] == [2]
    assert 3 not in by_doc


def test_nearest_centroid_assign_argmin_and_ties(spark):
    from mongodb_etl_migration_spark.operators.similarity import (
        nearest_centroid_assign,
    )

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),   # nearest to centroid 0
            (2, [0.0, 1.0]),   # nearest to centroid 1
            (3, [0.5, 0.5]),   # equidistant -> tie breaks to label 0
        ],
        "vec_id long, embedding array<double>",
    )
    cents = [(0, [10000, 0]), (1, [0, 10000])]
    out = {
        r.vec_id: (r.assigned, r.d2)
        for r in nearest_centroid_assign(emb, cents, "vec_id", "embedding").collect()
    }
    assert out[1] == (0, 0)
    assert out[2] == (1, 0)
    # d2 = (5000-10000)^2 + (5000-0)^2 = 50_000_000 either way
    assert out[3] == (0, 50_000_000)


def test_kmeans_converges_on_separable_clusters(spark):
    from mongodb_etl_migration_spark.operators.similarity import kmeans_assign

    # two tight blobs; ids 0 and 1 (the k=2 init seeds) sit one in each
    emb = spark.createDataFrame(
        [
            (0, [0.0, 0.0]),
            (1, [1.0, 1.0]),
            (2, [0.01, 0.0]),
            (3, [0.0, 0.02]),
            (4, [0.99, 1.0]),
            (5, [1.0, 0.98]),
        ],
        "vec_id long, embedding array<double>",
    )
    out = {
        r.vec_id: r.cluster
        for r in kmeans_assign(emb, k=2, iterations=3).collect()
    }
    assert {out[0], out[2], out[3]} == {0}
    assert {out[1], out[4], out[5]} == {1}

    # seeding uses the k SMALLEST ids, not `id < k`: a shifted id
    # space must still produce k clusters (regression: VOID-type crash)
    shifted = emb.select(
        (F.col("vec_id") + 100).alias("vec_id"), "embedding"
    )
    out2 = {
        r.vec_id: r.cluster
        for r in kmeans_assign(shifted, k=2, iterations=2).collect()
    }
    assert {out2[100], out2[102], out2[103]} == {100}
    assert {out2[101], out2[104], out2[105]} == {101}

    import pytest as _pytest

    with _pytest.raises(ValueError):
        kmeans_assign(emb, k=2, iterations=0)
    with _pytest.raises(ValueError):
        kmeans_assign(emb.filter(F.col("vec_id") < 0), k=2)

    from mongodb_etl_migration_spark.operators.similarity import (
        nearest_centroid_assign,
    )

    with _pytest.raises(ValueError):
        nearest_centroid_assign(emb, [])


def test_kmeans_layout_independent(spark, sf_dir):
    """The bit-reproducibility claim: integer-quantized Lloyd's must
    produce the IDENTICAL assignment regardless of partition layout
    (float k-means can flip argmins at the boundary when partial-sum
    order changes; integer arithmetic cannot)."""
    from mongodb_etl_migration_spark.operators.similarity import kmeans_assign

    emb = Catalog(spark, sf_dir).embeddings
    a = kmeans_assign(emb, k=10, iterations=2)
    b = kmeans_assign(emb.repartition(13), k=10, iterations=2)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_pack_shards_prefix_sum_and_group_reset(spark):
    from mongodb_etl_migration_spark.operators.text import pack_shards

    docs = spark.createDataFrame(
        [
            (1, "a", "w " * 60),   # tokens_before=0   -> shard 0
            (2, "a", "w " * 60),   # tokens_before=60  -> shard 0 (straddles)
            (3, "a", "w " * 10),   # tokens_before=120 -> shard 1
            (4, "b", "w " * 10),   # new group resets  -> shard 0
        ],
        "doc_id long, source string, text string",
    )
    out = {
        r.doc_id: (r.shard, r.n_tokens)
        for r in pack_shards(docs, "doc_id", "source", "text", 100).collect()
    }
    assert out == {1: (0, 60), 2: (0, 60), 3: (1, 10), 4: (0, 10)}


def test_decontaminate_flags_overlap_only(spark):
    from mongodb_etl_migration_spark.operators.text import decontaminate

    eval_docs = spark.createDataFrame(
        [(100, "the quick brown fox jumps")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            # contains 'quick brown fox' and 'brown fox jumps' -> 2 grams
            (1, "note the quick brown fox jumps high"),
            # no 3-gram overlap (shared bigram only)
            (2, "quick brown bear sleeps"),
            # duplicate gram in one doc counts once (distinct shingles)
            (3, "quick brown fox and quick brown fox"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r.n_matched
        for r in decontaminate(train, eval_docs, "doc_id", "text", n=3).collect()
    }
    # doc 1: 'the quick brown', 'quick brown fox', 'brown fox jumps'
    assert out == {1: 3, 3: 1}


def test_profile_report_counts_nulls_and_distincts(spark):
    from mongodb_etl_migration_spark.operators.profiling import profile_report

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (2, "b"), (None, "b")],
        "x long, y string",
    )
    out = {
        r.column: (r.n_rows, r.n_nulls, r.n_distinct)
        for r in profile_report(df, ["x", "y"]).collect()
    }
    # count_distinct excludes NULLs; n_rows is the full table count
    assert out == {"x": (4, 1, 2), "y": (4, 1, 2)}


def test_heavy_hitters_exact_above_support(spark):
    from mongodb_etl_migration_spark.operators.profiling import heavy_hitters
    from pyspark.sql import functions as F

    # 100 rows: key 'hot' x60, 'warm' x30, ten singletons
    df = spark.range(100).select(
        F.when(F.col("id") < 60, "hot")
        .when(F.col("id") < 90, "warm")
        .otherwise(F.col("id").cast("string"))
        .alias("k")
    )
    out = {r.k: r.cnt for r in heavy_hitters(df, "k", support=0.25).collect()}
    assert out == {"hot": 60, "warm": 30}
    # support above every frequency -> empty, same schema
    none = heavy_hitters(df, "k", support=0.99)
    assert none.count() == 0 and none.columns == ["k", "cnt"]
    import pytest

    with pytest.raises(ValueError):
        heavy_hitters(df, "k", support=1e-5)


def test_ngram_containment_scores_subset_as_one(spark):
    from mongodb_etl_migration_spark.operators.dedup import (
        ngram_containment,
        shingles,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h"),       # 6 3-grams
            (2, "a b c d"),               # 2 3-grams, all in doc 1
            (3, "x y z a b c"),           # partial overlap with doc 1
        ],
        "doc_id long, text string",
    )
    sh = shingles(docs, "doc_id", "text", 3)
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long"
    )
    out = {
        (r.id_a, r.id_b): r.containment
        for r in ngram_containment(sh, pairs, "doc_id").collect()
    }
    assert out[(1, 2)] == 1.0          # proper subset
    assert 0 < out[(1, 3)] < 1.0       # shares 'a b c' only


def test_fuzzy_join_is_exact_within_band(spark):
    from mongodb_etl_migration_spark.operators.text import fuzzy_join
    from pyspark.sql import functions as F

    left = spark.createDataFrame(
        [("kitten",), ("apple",), ("x",)], "w string"
    )
    right = spark.createDataFrame(
        [("sitten",), ("kitte",), ("apples",), ("orange",), ("xy",)],
        "n string",
    )
    out = {
        (r.w, r.n)
        for r in fuzzy_join(left, right, "w", "n", max_dist=1).collect()
    }
    assert out == {
        ("kitten", "sitten"),  # substitution
        ("kitten", "kitte"),   # deletion (length band -1)
        ("apple", "apples"),   # insertion (length band +1)
        ("x", "xy"),
    }


def test_semantic_dedup_keeps_lowest_id_per_neighborhood(spark):
    from mongodb_etl_migration_spark.operators.similarity import (
        semantic_dedup_keep,
    )

    # 4-dim: planes = axes 1,2 -> bucket from signs of dims 0,1.
    planes = [[1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]]
    rows = [
        (1, [1.0, 1.0, 0.0, 0.0]),
        (2, [1.01, 1.01, 0.0, 0.0]),   # rescale of 1 -> cos 1.0, dropped
        (3, [2.02, 2.02, 0.0, 0.0]),   # rescale of 2 -> chain: dropped too
        (4, [1.0, 1.0, 5.0, 0.0]),     # same bucket, cos ~0.7 -> kept
        (5, [-1.0, -1.0, 0.0, 0.0]),   # opposite bucket -> kept
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: r.bucket
        for r in semantic_dedup_keep(emb, planes, threshold=0.999).collect()
    }
    assert set(out) == {1, 4, 5}
    assert out[1] == "11" and out[5] == "00"


def test_bloom_bitset_has_no_false_negatives(spark):
    from mongodb_etl_migration_spark.operators.text import (
        bloom_bitset,
        bloom_probe,
    )
    from pyspark.sql import functions as F

    vals = spark.range(500).select(
        F.concat(F.lit("gram-"), F.col("id").cast("string")).alias("g")
    )
    bitset = bloom_bitset(vals, "g", num_bits=1 << 13, num_hashes=2)
    hits = vals.filter(bloom_probe(F.col("g"), bitset, num_hashes=2)).count()
    assert hits == 500  # every member must probe true
    # non-members mostly rejected (fp rate bound is loose on purpose:
    # 8192 bits / 500 values at k=2 -> ~1% expected)
    others = spark.range(500, 1500).select(
        F.concat(F.lit("gram-"), F.col("id").cast("string")).alias("g")
    )
    fp = others.filter(bloom_probe(F.col("g"), bitset, num_hashes=2)).count()
    assert fp < 100


def test_decontaminate_bloom_matches_exact(spark):
    """The Bloom pre-filter must be invisible in the result."""
    from mongodb_etl_migration_spark.operators.text import (
        decontaminate,
        decontaminate_bloom,
    )

    eval_docs = spark.createDataFrame(
        [(100, "the quick brown fox jumps"), (101, "pack my box with")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "note the quick brown fox jumps high"),
            (2, "quick brown bear sleeps"),
            (3, "please pack my box with care"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    exact = {
        r.doc_id: r.n_matched
        for r in decontaminate(train, eval_docs, "doc_id", "text", n=3).collect()
    }
    bloom = {
        r.doc_id: r.n_matched
        for r in decontaminate_bloom(
            train, eval_docs, "doc_id", "text", n=3
        ).collect()
    }
    assert bloom == exact and exact  # identical, and non-trivial


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    import struct
    import zlib

    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def test_png_roundtrip_and_all_filters():
    """parse_png must invert encode_png byte-exactly AND unapply every
    PNG scanline filter (Sub/Up/Average/Paeth) — filters are where
    hand-rolled PNG decoders usually break, so each row of the
    handcrafted image uses a different one."""
    import struct
    import zlib

    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_png,
        parse_png,
    )

    rng = np.random.RandomState(7)
    px = rng.randint(0, 256, (13, 9, 3), dtype=np.uint8)
    w, h, back = parse_png(encode_png(px))
    assert (w, h) == (9, 13) and np.array_equal(back, px)

    def paeth(a, b, c):
        p = a + b - c
        pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
        return a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)

    H, W, bpp = 5, 7, 3
    img = rng.randint(0, 256, (H, W, 3), dtype=np.uint8)
    scan = bytearray()
    prev = [0] * (W * bpp)
    for y in range(H):
        row = [int(v) for v in img[y].reshape(-1)]
        f = y % 5  # row y uses filter y mod 5 — all five exercised
        scan.append(f)
        for x in range(W * bpp):
            left = row[x - bpp] if x >= bpp else 0
            up = prev[x]
            ul = prev[x - bpp] if x >= bpp else 0
            if f == 0:
                v = row[x]
            elif f == 1:
                v = (row[x] - left) & 0xFF
            elif f == 2:
                v = (row[x] - up) & 0xFF
            elif f == 3:
                v = (row[x] - ((left + up) >> 1)) & 0xFF
            else:
                v = (row[x] - paeth(left, up, ul)) & 0xFF
            scan.append(v)
        prev = row
    ihdr = struct.pack(">IIBBBBB", W, H, 8, 2, 0, 0, 0)
    raw = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(scan)))
        + _png_chunk(b"IEND", b"")
    )
    w, h, back = parse_png(raw)
    assert np.array_equal(back, img)


def test_png_gray_rgba_and_dispatch():
    """Grayscale replicates to 3 channels, RGBA drops alpha, and
    parse_image dispatches by magic bytes / rejects unknown formats."""
    import struct
    import zlib

    import numpy as np
    import pytest

    from mongodb_etl_migration_spark.operators.multimodal import (
        parse_image,
        parse_png,
    )

    rng = np.random.RandomState(11)
    gray = rng.randint(0, 256, (4, 6), dtype=np.uint8)
    scan = np.zeros((4, 7), dtype=np.uint8)
    scan[:, 1:] = gray
    raw = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 6, 4, 8, 0, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(scan.tobytes()))
        + _png_chunk(b"IEND", b"")
    )
    w, h, g = parse_png(raw)
    assert g.shape == (4, 6, 3)
    assert np.array_equal(g[:, :, 0], gray) and np.array_equal(g[:, :, 2], gray)

    rgba = rng.randint(0, 256, (3, 5, 4), dtype=np.uint8)
    scan = np.zeros((3, 21), dtype=np.uint8)
    scan[:, 1:] = rgba.reshape(3, 20)
    raw = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 3, 8, 6, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(scan.tobytes()))
        + _png_chunk(b"IEND", b"")
    )
    w, h, a = parse_png(raw)
    assert a.shape == (3, 5, 3) and np.array_equal(a, rgba[:, :, :3])

    # dispatch: PNG magic routes to parse_png, garbage is rejected
    assert parse_image(raw)[2].shape == (3, 5, 3)
    with pytest.raises(ValueError):
        parse_image(b"JUNKJUNKJUNKJUNK")
    # interlaced PNGs are declared unsupported, not mis-decoded
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 3, 8, 2, 0, 0, 1))
        + _png_chunk(b"IDAT", b"x")
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError):
        parse_png(bad)


def test_png_roundtrip_property():
    """Property: encode_png → parse_png is the identity for any uint8
    RGB image, including degenerate 1×1 and thin strips (hypothesis
    over dimensions and a seeded fill)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_png,
        parse_png,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 24),
        h=st.integers(1, 24),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(w, h, seed):
        px = np.random.RandomState(seed).randint(
            0, 256, (h, w, 3), dtype=np.uint8
        )
        got_w, got_h, back = parse_png(encode_png(px))
        assert (got_w, got_h) == (w, h)
        assert np.array_equal(back, px)

    check()


def test_bmp_roundtrip_property():
    """Same identity property for the BMP codec (row padding to 4
    bytes is where off-by-ones live — widths 1..8 cover every pad)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_bmp,
        parse_bmp,
    )

    @settings(max_examples=40, deadline=None)
    @given(
        w=st.integers(1, 9),
        h=st.integers(1, 9),
        seed=st.integers(0, 2**31 - 1),
    )
    def check(w, h, seed):
        px = np.random.RandomState(seed).randint(
            0, 256, (h, w, 3), dtype=np.uint8
        )
        got_w, got_h, back = parse_bmp(encode_bmp(px))
        assert (got_w, got_h) == (w, h)
        assert np.array_equal(back, px)

    check()


def test_dedup_spans_c4_semantics(spark):
    from mongodb_etl_migration_spark.operators.text import dedup_spans

    w = lambda n, tag: " ".join(f"{tag}{i}" for i in range(n))
    docs = spark.createDataFrame(
        [
            (1, w(10, "a") + " " + w(10, "b")),   # two spans: a, b
            (2, w(10, "a") + " " + w(10, "b")),   # exact copy -> vanishes
            (3, w(10, "a") + " " + w(10, "c")),   # shares span a -> keeps c
            (4, w(5, "d")),                        # short doc: one 5-token span
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in dedup_spans(docs, "doc_id", "text", 10).collect()}
    assert set(out) == {1, 3, 4}                  # doc 2 fully duplicated
    assert out[1].n_spans_kept == 2 and out[1].n_spans_total == 2
    assert out[3].n_spans_kept == 1 and out[3].n_spans_total == 2
    assert out[3].clean_text == w(10, "c")        # span a went to doc 1
    assert out[4].clean_text == w(5, "d")


def test_multiprobe_dominates_single_probe(spark, sf_dir):
    """The 1-flip probe set strictly contains the single bucket, so
    multiprobe's top-k is at least as good pointwise."""
    emb, planes, q = _planes_and_query(spark, sf_dir)
    single = SIM.ann_topk_lsh(emb, q, planes, k=10).collect()
    multi = SIM.ann_topk_multiprobe(emb, q, planes, k=10).collect()
    assert len(multi) >= len(single)
    for s, m in zip(single, multi):
        assert m["cos_sim"] >= s["cos_sim"]
    # the query vector itself still tops both
    assert multi[0]["vec_id"] == 0 and multi[0]["cos_sim"] == 1.0


def test_qoi_roundtrip_property():
    """encode→decode is the identity on arbitrary RGB images — QOI is
    lossless, so exact equality (hypothesis over shapes + content)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_qoi,
        parse_qoi,
    )

    @settings(max_examples=30, deadline=None)
    @given(
        st.integers(min_value=1, max_value=20),
        st.integers(min_value=1, max_value=20),
        st.randoms(use_true_random=False),
    )
    def check(h, w, rnd):
        rng = np.random.RandomState(rnd.randint(0, 2**31))
        # mix flat regions (runs), small gradients (diff/luma) and noise
        px = rng.randint(0, 256, (h, w, 3), dtype=np.uint8)
        px[: h // 2] = px[0, 0]
        gw, gh, back = parse_qoi(encode_qoi(px))
        assert (gw, gh) == (w, h)
        assert np.array_equal(back, px)

    check()


def test_qoi_malformed_raises():
    import numpy as np
    import pytest

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_qoi,
        parse_qoi,
    )

    good = encode_qoi(np.full((4, 4, 3), 7, dtype=np.uint8))
    with pytest.raises(ValueError):
        parse_qoi(good[:10])          # truncated header
    with pytest.raises(ValueError):
        parse_qoi(b"nope" + good[4:])  # wrong magic
    with pytest.raises(ValueError):
        parse_qoi(good[:-1])          # missing end marker


def test_gif_roundtrip_property():
    """encode→decode identity for the animated-GIF subset: random
    palettes, frame counts, shapes — exercises LZW width growth (256
    colors), small-palette widths, and multi-frame walks."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_gif,
        parse_gif,
    )

    @settings(max_examples=25, deadline=None)
    @given(
        st.integers(min_value=1, max_value=12),   # h
        st.integers(min_value=1, max_value=12),   # w
        st.integers(min_value=1, max_value=4),    # frames
        st.sampled_from([2, 4, 16, 256]),         # palette size
        st.integers(min_value=0, max_value=2**31 - 1),
    )
    def check(h, w, nf, ncol, seed):
        rng = np.random.RandomState(seed)
        pal = rng.randint(0, 256, (ncol, 3), dtype=np.uint8)
        frames = [
            rng.randint(0, ncol, (h, w), dtype=np.uint8) for _ in range(nf)
        ]
        gw, gh, back = parse_gif(encode_gif(frames, pal))
        assert (gw, gh) == (w, h) and len(back) == nf
        for f, b in zip(frames, back):
            assert np.array_equal(b, pal[f.astype(np.int32)])

    check()


def test_sample_frames_decodes_real_gif(spark):
    """GIF payloads go through the real decoder: frame digests match
    md5 of the analytically-known RGB frames; stub path untouched for
    non-GIF payloads."""
    import hashlib

    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_gif,
        sample_frames,
    )

    pal = np.array([[1, 2, 3], [200, 100, 50]], dtype=np.uint8)
    frames = [np.full((3, 5), f % 2, dtype=np.uint8) for f in range(5)]
    gif = encode_gif(frames, pal)
    mm = spark.createDataFrame(
        [(1, bytearray(gif), {"media_type": "video", "byte_size": len(gif)})],
        "doc_id long, payload binary, meta struct<media_type:string,byte_size:bigint>",
    )
    out = {r.frame_idx: r.frame_digest for r in sample_frames(mm, every_n=2).collect()}
    assert set(out) == {0, 2, 4}
    for f in (0, 2, 4):
        expected = np.broadcast_to(pal[f % 2], (3, 5, 3)).astype(np.uint8)
        assert out[f] == hashlib.md5(np.ascontiguousarray(expected).tobytes()).hexdigest()


def test_int8_gram_hand_computed(spark):
    from mongodb_etl_migration_spark.operators.similarity import int8_gram

    # scale = 127/127 = 1.0 -> q == the integer vectors themselves
    df = spark.createDataFrame(
        [(1, [127.0, 0.0]), (2, [0.0, 127.0]), (3, [127.0, 127.0])],
        "vec_id long, embedding array<double>",
    )
    got = {(r.i, r.j): (r.sxy, r.n) for r in int8_gram(df, dims=2).collect()}
    s = 127 * 127
    assert got == {(1, 1): (2 * s, 3), (1, 2): (s, 3), (2, 2): (2 * s, 3)}


def test_jpeg_flat_even_gray_roundtrips_exactly():
    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_jpeg,
        parse_jpeg,
    )

    for v in (64, 100, 128, 192, 250):
        px = np.full((16, 24, 3), v, dtype=np.uint8)
        w, h, out = parse_jpeg(encode_jpeg(px))
        assert (w, h) == (24, 16)
        assert np.array_equal(out, px), v


def test_jpeg_multi_block_dc_prediction():
    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_jpeg,
        parse_jpeg,
    )

    # different flat value per block: exercises the DC-diff Huffman
    # chain across 6 blocks; even multiples of 8 round-trip exactly
    px = np.zeros((16, 24, 3), dtype=np.uint8)
    vals = [64, 96, 160, 192, 80, 144]
    for i, v in enumerate(vals):
        by, bx = divmod(i, 3)
        px[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8, :] = v
    _, _, out = parse_jpeg(encode_jpeg(px))
    assert np.array_equal(out, px)


def test_jpeg_roundtrip_error_bounded_on_smooth_images():
    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_jpeg,
        parse_jpeg,
    )

    rng = np.random.RandomState(7)
    for _ in range(3):
        # smooth low-frequency content (JPEG's design target): a
        # random plane gradient plus mild noise
        a, b, c = rng.randint(0, 4), rng.randint(0, 4), rng.randint(40, 160)
        x = np.arange(32)[None, :, None]
        y = np.arange(24)[:, None, None]
        px = np.clip(
            a * x + b * y + c + rng.randint(-3, 4, (24, 32, 3)), 0, 255
        ).astype(np.uint8)
        _, _, out = parse_jpeg(encode_jpeg(px))
        err = np.abs(out.astype(int) - px.astype(int))
        assert err.mean() < 6 and err.max() < 40


def test_jpeg_rejects_out_of_scope_streams():
    import numpy as np
    import pytest

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_jpeg,
        parse_jpeg,
    )

    with pytest.raises(ValueError):
        parse_jpeg(b"\x89PNG not a jpeg")
    raw = bytearray(encode_jpeg(np.full((8, 8, 3), 100, dtype=np.uint8)))
    # flip SOF0 (FFC0) to arithmetic SOF9: must refuse, not mis-decode
    i = raw.find(b"\xff\xc0")
    raw[i + 1] = 0xC9
    with pytest.raises(ValueError):
        parse_jpeg(bytes(raw))
    # SOF2 is now supported — but a BASELINE scan (Ss=0,Se=63) inside a
    # progressive stream is malformed and must refuse, not mis-decode
    raw[i + 1] = 0xC2
    with pytest.raises(ValueError, match="DC scan must have Se=0"):
        parse_jpeg(bytes(raw))
    with pytest.raises(ValueError):
        parse_jpeg(bytes(encode_jpeg(np.full((8, 8, 3), 1, dtype=np.uint8)))[:-10] + b"\x00" * 2)


def test_jpeg_dispatched_by_parse_image():
    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_jpeg,
        parse_image,
    )

    w, h, px = parse_image(encode_jpeg(np.full((8, 16, 3), 120, dtype=np.uint8)))
    assert (w, h) == (16, 8) and int(px[0, 0, 0]) == 120


def test_jpeg_420_and_odd_dims_and_restart_roundtrip():
    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_jpeg,
        parse_jpeg,
    )

    # flat content survives 4:2:0 chroma averaging exactly
    px = np.full((10, 13, 3), 128, dtype=np.uint8)
    for ss in ("444", "420"):
        w, h, out = parse_jpeg(encode_jpeg(px, subsampling=ss))
        assert (w, h) == (13, 10)
        assert np.array_equal(out, px), ss
    # restart markers: DRI emitted, RSTn consumed, DC preds reset
    px = np.full((32, 32, 3), 100, dtype=np.uint8)
    raw = encode_jpeg(px, restart_interval=1)
    assert b"\xff\xdd" in raw and b"\xff\xd0" in raw
    _, _, out = parse_jpeg(raw)
    assert np.array_equal(out, px)
    # combined: 4:2:0 + odd dims + restarts on random content decodes
    # to the right shape without marker desync
    rng = np.random.RandomState(2)
    px = rng.randint(0, 256, (19, 21, 3)).astype(np.uint8)
    w, h, out = parse_jpeg(
        encode_jpeg(px, subsampling="420", restart_interval=2)
    )
    assert (w, h, out.shape) == (21, 19, (19, 21, 3))


def test_jpeg_420_error_close_to_444_on_smooth_color():
    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_jpeg,
        parse_jpeg,
    )

    rng = np.random.RandomState(1)
    x = np.arange(40)[None, :, None]
    y = np.arange(24)[:, None, None]
    px = np.clip(
        3 * x + 2 * y + 30 + rng.randint(-2, 3, (24, 40, 3)), 0, 255
    ).astype(np.uint8)
    errs = {}
    for ss in ("444", "420"):
        _, _, out = parse_jpeg(encode_jpeg(px, subsampling=ss))
        errs[ss] = np.abs(out.astype(int) - px.astype(int)).mean()
    assert errs["444"] < 6 and errs["420"] < 8


def test_jpeg_randomized_shapes_and_flat_colors():
    """Seeded sweep over dims x subsampling x restart: decode shape
    always matches the input, and flat even-gray content round-trips
    exactly through every path (the quantization-exactness invariant
    the driver oracle relies on, here over arbitrary geometry)."""
    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_jpeg,
        parse_jpeg,
    )

    rng = np.random.RandomState(13)
    for _ in range(12):
        h = int(rng.randint(1, 40))
        w = int(rng.randint(1, 40))
        ss = ("444", "420")[rng.randint(2)]
        ri = int(rng.randint(0, 3))
        v = int(rng.randint(32, 112)) * 2  # even gray
        px = np.full((h, w, 3), v, dtype=np.uint8)
        W, H, out = parse_jpeg(encode_jpeg(px, subsampling=ss, restart_interval=ri))
        assert (W, H) == (w, h), (w, h, ss, ri)
        assert out.shape == (h, w, 3)
        assert np.array_equal(out, px), (w, h, ss, ri, v)
        # arbitrary content must at least decode to the right geometry
        noisy = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        W, H, out = parse_jpeg(encode_jpeg(noisy, subsampling=ss, restart_interval=ri))
        assert out.shape == (h, w, 3)


def test_jpeg_malformed_streams_raise_valueerror_not_indexerror():
    import pytest

    from mongodb_etl_migration_spark.operators.multimodal import parse_jpeg

    # truncated mid-marker / header-less: the ValueError contract
    # decode_images relies on (an IndexError would kill the task)
    for bad in (b"\xff\xd8\xff", b"\xff\xd8\xff\xdb\x00\x05\x00"):
        with pytest.raises(ValueError):
            parse_jpeg(bad)


def test_jpeg_fill_bytes_before_markers_are_legal():
    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_jpeg,
        parse_jpeg,
    )

    px = np.full((8, 8, 3), 100, dtype=np.uint8)
    raw = encode_jpeg(px)
    # inject ISO 10918-1 B.1.1.2 fill bytes before the first DQT
    i = raw.find(b"\xff\xdb")
    padded = raw[:i] + b"\xff\xff\xff" + raw[i:]
    _, _, out = parse_jpeg(padded)
    assert np.array_equal(out, px)


def test_jpeg_bitwriter_accumulator_stays_bounded():
    from mongodb_etl_migration_spark.operators.multimodal import _BitWriter

    bw = _BitWriter()
    for i in range(5000):
        bw.put(i & 0x3FF, 10)
    # without the post-emit mask this reaches ~50k bits (O(n^2) encode)
    assert bw.acc.bit_length() <= 8


def test_matryoshka_zero_prefix_stays_zero(spark):
    from pyspark.sql import functions as F

    from mongodb_etl_migration_spark.operators.similarity import (
        l2_normalize,
        matryoshka,
    )

    df = spark.createDataFrame(
        [(1, [0.0] * 8 + [0.5] * 8), (2, [0.0] * 16)],
        "vec_id long, embedding array<double>",
    )
    rows = {
        r.vec_id: (r.m, r.u)
        for r in df.select(
            "vec_id",
            matryoshka("embedding", 8).alias("m"),
            l2_normalize("embedding").alias("u"),
        ).collect()
    }
    assert rows[1][0] == [0.0] * 8          # zero PREFIX -> zeros, not NULLs
    assert rows[2][1] == [0.0] * 16         # zero vector -> zeros
    assert abs(sum(x * x for x in rows[1][1]) - 1.0) < 1e-12


def test_progressive_jpeg_equals_baseline_decode():
    """Pixel-exact roundtrip: the progressive encoder writes the SAME
    quantized coefficients as the baseline encoder, so decoding the
    nine-scan Annex-G stream (spectral selection + successive
    approximation, EOBRUN, refinement correction bits) must reproduce
    the baseline decode bit-for-bit — including odd dims (MCU crop),
    4:2:0, and restart intervals (EOB-run reset at RSTn)."""
    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_jpeg,
        encode_jpeg_progressive,
        parse_jpeg,
    )

    rng = np.random.default_rng(7)
    for dims, sub, ri in [
        ((8, 8), "444", 0),
        ((23, 17), "444", 3),
        ((33, 31), "420", 0),
        ((64, 48), "420", 2),
    ]:
        px = rng.integers(0, 256, size=(*dims, 3), dtype=np.uint8)
        base = parse_jpeg(encode_jpeg(px, subsampling=sub, restart_interval=ri))
        prog = parse_jpeg(
            encode_jpeg_progressive(px, subsampling=sub, restart_interval=ri)
        )
        assert base[:2] == prog[:2]
        assert np.array_equal(base[2], prog[2]), (dims, sub, ri)


def test_progressive_jpeg_long_eob_runs():
    """A flat image makes every AC band empty: the first AC scans emit
    multi-block EOBn runs and the refinement scans exercise the
    run-spanning correction-bit buffer — decode must still match."""
    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_jpeg,
        encode_jpeg_progressive,
        parse_jpeg,
    )

    px = np.full((48, 64, 3), 96, dtype=np.uint8)
    base = parse_jpeg(encode_jpeg(px))
    prog = parse_jpeg(encode_jpeg_progressive(px))
    assert np.array_equal(base[2], prog[2])
    # smooth gradient: sparse high-frequency AC, heavy EOBRUN + ZRL mix
    g = np.linspace(0, 255, 64, dtype=np.uint8)
    px2 = np.stack([np.tile(g, (48, 1))] * 3, axis=-1)
    base2 = parse_jpeg(encode_jpeg(px2, subsampling="420"))
    prog2 = parse_jpeg(encode_jpeg_progressive(px2, subsampling="420"))
    assert np.array_equal(base2[2], prog2[2])


def test_progressive_jpeg_grayscale_non_interleaved():
    """Single-component progressive stream built by hand (the encoder
    is 3-component): non-interleaved DC + AC scans over the raster
    block grid, successive approximation Al=1 -> refine. Must equal the
    BASELINE decode of the same grayscale coefficients."""
    import numpy as np

    from mongodb_etl_migration_spark.operators import multimodal as M

    rng = np.random.default_rng(11)
    px = rng.integers(0, 256, size=(24, 16), dtype=np.uint8)
    plane = px.astype(np.float64) - 128.0
    bh, bw_ = 3, 2
    coefs = np.zeros((bh, bw_, 64), dtype=np.int64)
    for by in range(bh):
        for bx in range(bw_):
            blk = plane[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8]
            coefs[by, bx] = M._quant_block(blk, M._JPEG_QY).ravel()[M._ZZ]

    dcm = M._huff_encode_map(M._PROG_DC_TABLE)
    acm = M._huff_encode_map(M._PROG_AC_TABLE)
    scans = []
    for ss, se, ah, al in ((0, 0, 0, 1), (1, 63, 0, 1), (0, 0, 1, 0), (1, 63, 1, 0)):
        bw = M._BitWriter()
        eobrun, pend, pred = 0, [], 0
        for by in range(bh):
            for bx in range(bw_):
                zz = coefs[by, bx]
                if ss == 0 and ah == 0:
                    v = int(zz[0]) >> al
                    diff, pred = v - pred, v
                    cat = M._category(diff)
                    code, ln = dcm[cat]
                    bw.put(code, ln)
                    if cat:
                        bw.put(M._enc_value(diff, cat), cat)
                elif ss == 0:
                    bw.put((int(zz[0]) >> al) & 1, 1)
                elif ah == 0:
                    eobrun = M._enc_ac_first(bw, acm, zz, ss, se, al, eobrun, pend)
                else:
                    eobrun = M._enc_ac_refine(bw, acm, zz, ss, se, al, eobrun, pend)
        if ss != 0:
            M._emit_eobrun(bw, acm, eobrun, pend)
        scans.append((bytes([1, 1, 0x00, ss, se, (ah << 4) | al]), bw.flush()))

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    sof2 = seg(0xC2, bytes([8]) + (24).to_bytes(2, "big") + (16).to_bytes(2, "big")
               + bytes([1, 1, 0x11, 0]))
    raw = (b"\xff\xd8"
           + seg(0xDB, bytes([0]) + bytes(int(M._JPEG_QY.ravel()[z]) for z in M._ZZ))
           + seg(0xC4, bytes([0x00]) + bytes(M._PROG_DC_TABLE[0]) + bytes(M._PROG_DC_TABLE[1]))
           + seg(0xC4, bytes([0x10]) + bytes(M._PROG_AC_TABLE[0]) + bytes(M._PROG_AC_TABLE[1]))
           + sof2)
    for hdr, data in scans:
        raw += seg(0xDA, hdr) + data
    raw += b"\xff\xd9"

    w, h, got = M.parse_jpeg(raw)
    assert (w, h) == (16, 24)
    # expected: dequant + IDCT of the same coefficients (grayscale tail)
    exp_blocks = np.zeros((bh, bw_, 8, 8))
    for by in range(bh):
        for bx in range(bw_):
            nat = np.zeros(64)
            nat[M._ZZ] = coefs[by, bx]
            exp_blocks[by, bx] = (
                M._DCT_C.T @ (nat.reshape(8, 8) * M._JPEG_QY) @ M._DCT_C
            )
    exp_plane = exp_blocks.transpose(0, 2, 1, 3).reshape(24, 16) + 128.0
    exp = np.clip(np.floor(exp_plane + 0.5), 0, 255).astype(np.uint8)
    assert np.array_equal(got[:, :, 0], exp)
    assert np.array_equal(got[:, :, 0], got[:, :, 1])


def test_grayscale_baseline_with_sampling_factors_is_non_interleaved():
    """ISO 10918-1 A.2.2: a single-component scan ignores the SOF
    sampling factors for MCU layout. Patch a grayscale baseline file's
    SOF to claim 2x2 sampling: decode must be unchanged (raster block
    order), not 4-blocks-per-MCU garbling."""
    import numpy as np

    from mongodb_etl_migration_spark.operators import multimodal as M

    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, size=(16, 16), dtype=np.uint8)
    # build a grayscale baseline jpeg via the existing encoder pieces
    plane = px.astype(np.float64) - 128.0
    bw = M._BitWriter()
    dcm = M._huff_encode_map(M._HUFF_DC_Y)
    acm = M._huff_encode_map(M._HUFF_AC_Y)
    pred = 0
    for by in range(2):
        for bx in range(2):
            pred = M._encode_block(
                bw, plane[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8],
                M._JPEG_QY, dcm, acm, pred,
            )

    def seg(marker, body):
        return bytes([0xFF, marker]) + (len(body) + 2).to_bytes(2, "big") + body

    def build(samp_byte):
        return (b"\xff\xd8"
                + seg(0xDB, bytes([0]) + bytes(int(M._JPEG_QY.ravel()[z]) for z in M._ZZ))
                + seg(0xC4, bytes([0x00]) + bytes(M._HUFF_DC_Y[0]) + bytes(M._HUFF_DC_Y[1]))
                + seg(0xC4, bytes([0x10]) + bytes(M._HUFF_AC_Y[0]) + bytes(M._HUFF_AC_Y[1]))
                + seg(0xC0, bytes([8]) + (16).to_bytes(2, "big") + (16).to_bytes(2, "big")
                      + bytes([1, 1, samp_byte, 0]))
                + seg(0xDA, bytes([1, 1, 0x00, 0, 63, 0]))
                + bw.flush() + b"\xff\xd9")

    _, _, out11 = M.parse_jpeg(build(0x11))
    _, _, out22 = M.parse_jpeg(build(0x22))
    assert np.array_equal(out11, out22)


def test_progressive_jpeg_roundtrip_property():
    """Progressive == baseline decode over random dims (incl. sub-8x8
    and non-MCU-aligned) and both subsamplings (hypothesis)."""
    import numpy as np
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_jpeg,
        encode_jpeg_progressive,
        parse_jpeg,
    )

    @settings(max_examples=15, deadline=None)
    @given(
        st.integers(min_value=1, max_value=40),
        st.integers(min_value=1, max_value=40),
        st.sampled_from(["444", "420"]),
        st.sampled_from([0, 2]),
        st.integers(min_value=0, max_value=2**32 - 1),
    )
    def roundtrip(h, w, sub, ri, seed):
        rng = np.random.default_rng(seed)
        px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
        base = parse_jpeg(encode_jpeg(px, subsampling=sub, restart_interval=ri))
        prog = parse_jpeg(
            encode_jpeg_progressive(px, subsampling=sub, restart_interval=ri)
        )
        assert base[:2] == prog[:2]
        assert np.array_equal(base[2], prog[2])

    roundtrip()


def test_image_dhash_known_vector_and_invariances():
    import numpy as np

    from mongodb_etl_migration_spark.operators.multimodal import (
        dhash_bytes,
        encode_bmp,
        encode_png,
    )

    # left-bright/right-dark 18x16: every row's grid is [255..255,0..0]
    # with the 255->0 edge between grid x=4 (sx=8) and x=5 (sx=10):
    # bit set only at x=4 -> row byte 0b00001000 = 08
    px = np.zeros((16, 18, 3), dtype=np.uint8)
    px[:, :9, :] = 255
    dh, w, h = dhash_bytes(encode_bmp(px))
    assert (w, h) == (18, 16)
    assert dh == "08" * 8
    # same pixels through a DIFFERENT codec: identical hash (the
    # property cryptographic digests lack)
    dh_png, _, _ = dhash_bytes(encode_png(px))
    assert dh_png == dh
    # dimming the dark half is hash-INVARIANT (brightness-monotone —
    # the property that makes dHash a near-dup key, not a digest) ...
    px_dim = px.copy()
    px_dim[:, 9:, :] = 200
    assert dhash_bytes(encode_bmp(px_dim))[0] == dh
    # ... but MOVING the edge changes the bit position
    px2 = np.zeros((16, 18, 3), dtype=np.uint8)
    px2[:, :5, :] = 255  # edge now between grid x=2 (sx=4) and x=3 (sx=6)
    assert dhash_bytes(encode_bmp(px2))[0] != dh
    # flat image: no gradients anywhere
    flat = np.full((16, 18, 3), 77, dtype=np.uint8)
    assert dhash_bytes(encode_bmp(flat))[0] == "00" * 8


def test_image_dhash_spark_null_for_undecodable(spark):
    from mongodb_etl_migration_spark.operators.multimodal import (
        encode_bmp,
        image_dhash,
    )
    import numpy as np
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    good = encode_bmp(np.full((8, 8, 3), 1, dtype=np.uint8))
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )
    df = spark.createDataFrame([(1, good), (2, b"not an image")], schema)
    rows = {r.doc_id: r for r in image_dhash(df).collect()}
    assert rows[1].dhash == "00" * 8 and rows[1].width == 8
    assert rows[2].dhash is None and rows[2].width is None


def test_image_neardup_banding_recall_and_confirm(spark):
    """The Hamming-banding pipeline's load-bearing properties:
    (1) PIGEONHOLE RECALL — for ANY two 64-bit keys within Hamming
    max_hamming < bands, at least one band agrees, so banded blocking
    finds every pair the exact confirm would accept (checked by
    hypothesis-style random sweep); (2) dhash_hamming (chunked
    conv/xor/popcount, zero UDF) equals Python popcount; (3) the
    confirm rejects far pairs band collisions let through; (4) NULL
    hashes (undecodable images) are dropped; (5) lossy parameter
    combos refuse."""
    import random

    import pytest

    from mongodb_etl_migration_spark.operators import multimodal as M

    rng = random.Random(13)
    rows = []
    truth = []
    keys = []
    for i in range(40):
        base = rng.getrandbits(64)
        keys.append((2 * i, base))
        flipped = base
        nbits = rng.randrange(0, 6)  # 0..5 bit flips: straddles r=3
        for pos in rng.sample(range(64), nbits):
            flipped ^= 1 << pos
        keys.append((2 * i + 1, flipped))
        d = bin(base ^ flipped).count("1")
        if d <= 3:
            truth.append((2 * i, 2 * i + 1, d))
    rows = [(i, f"{k:016x}") for i, k in keys] + [(999, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, dhash string")

    got = {
        (r.id_a, r.id_b): r.hamming
        for r in M.image_neardup_pairs(df).collect()
    }
    kmap = dict(keys)
    # every confirmed pair is genuinely within r (no false accepts)
    for (a, b), h in got.items():
        assert bin(kmap[a] ^ kmap[b]).count("1") == h <= 3
        assert a != 999 and b != 999
    # pigeonhole recall: every true within-r pair was found
    for a, b, d in truth:
        assert got[(a, b)] == d

    with pytest.raises(ValueError, match="recall"):
        M.image_neardup_pairs(df, bands=4, max_hamming=4)
    with pytest.raises(ValueError, match="divide"):
        M.dhash_bands(df, bands=5)

    # clusters: chain a-b-c within r pairwise-adjacent collapses to
    # min id even when a-c are farther than r (transitive closure)
    chain = spark.createDataFrame(
        [
            (10, "0000000000000000"),
            (11, "0000000000000007"),  # 3 bits from 10
            (12, "000000000000003f"),  # 3 bits from 11, 6 from 10
        ],
        "doc_id bigint, dhash string",
    )
    comps = {
        r.id: r.component for r in M.image_neardup_clusters(chain).collect()
    }
    assert comps == {10: 10, 11: 10, 12: 10}


def test_image_neardup_persisted_index_probe(spark, tmp_path):
    """Incremental image near-dup: history keyed once into the
    persisted band index; a probe of a new batch finds exactly the
    cross pairs a from-scratch batch run over the union finds (same
    banding/threshold — recall is the pigeonhole guarantee either
    way); banding derives from the index's own stats row."""
    import random

    from mongodb_etl_migration_spark.operators import multimodal as M

    rng = random.Random(5)
    keys = {}
    for i in range(30):
        base = rng.getrandbits(64)
        keys[2 * i] = base
        flip = base
        for pos in rng.sample(range(64), rng.randrange(0, 5)):
            flip ^= 1 << pos
        keys[2 * i + 1] = flip
    df = spark.createDataFrame(
        [(i, f"{k:016x}") for i, k in keys.items()],
        "doc_id bigint, dhash string",
    )
    hist = df.filter(F.col("doc_id") % 3 != 0)
    batch = df.filter(F.col("doc_id") % 3 == 0)
    path = str(tmp_path / "dhash_idx")
    M.write_dhash_index(hist, path)

    got = {
        (r.id_new, r.id_indexed): r.hamming
        for r in M.image_neardup_against_index(batch, path).collect()
    }
    full = {
        (r.id_a, r.id_b): r.hamming
        for r in M.image_neardup_pairs(df).collect()
    }
    hist_ids = {r.doc_id for r in hist.collect()}
    batch_ids = {r.doc_id for r in batch.collect()}
    want = {}
    for (a, b), h in full.items():
        if a in batch_ids and b in hist_ids:
            want[(a, b)] = h
        elif b in batch_ids and a in hist_ids:
            want[(b, a)] = h
    assert got == want and len(want) > 0
    # stats self-describe the banding
    st = spark.read.parquet(f"{path}/_stats").collect()[0]
    assert (st["bands"], st["n_images"]) == (4, len(hist_ids))


def test_dhash_index_append_parity_and_refusals(spark, tmp_path):
    """ADDITIVE dHash index maintenance (r13 verdict item): appending
    a batch's band rows into the existing index must probe
    IDENTICALLY to a from-scratch rebuild over the union (banding is
    a pure substring of the hash, so parity is bit-level); stats are
    re-derived from the written band files (self-healing — never a
    second action over the input frame); an append with a different
    ``bands`` value refuses loudly (it would corrupt the
    self-describing banding contract), as does an append to a path
    with no index."""
    import random

    import pytest

    from mongodb_etl_migration_spark.operators import multimodal as M

    rng = random.Random(11)
    keys = {}
    for i in range(30):
        base = rng.getrandbits(64)
        keys[2 * i] = base
        flip = base
        for pos in rng.sample(range(64), rng.randrange(0, 5)):
            flip ^= 1 << pos
        keys[2 * i + 1] = flip
    df = spark.createDataFrame(
        [(i, f"{k:016x}") for i, k in keys.items()],
        "doc_id bigint, dhash string",
    )
    probe_set = df.filter(F.col("doc_id") % 3 == 0)
    hist = df.filter(F.col("doc_id") % 3 == 1)
    batch = df.filter(F.col("doc_id") % 3 == 2)

    maintained = str(tmp_path / "dhash_maintained")
    M.write_dhash_index(hist, maintained)
    M.write_dhash_index(batch, maintained, mode="append")
    st = spark.read.parquet(f"{maintained}/_stats").collect()[0]
    assert (st["bands"], st["n_images"]) == (
        4,
        hist.count() + batch.count(),
    )

    rebuilt = str(tmp_path / "dhash_rebuilt")
    M.write_dhash_index(hist.unionByName(batch), rebuilt)
    a = sorted(
        (r.id_new, r.id_indexed, r.hamming)
        for r in M.image_neardup_against_index(
            probe_set, maintained
        ).collect()
    )
    b = sorted(
        (r.id_new, r.id_indexed, r.hamming)
        for r in M.image_neardup_against_index(
            probe_set, rebuilt
        ).collect()
    )
    assert a == b and len(a) > 0

    with pytest.raises(ValueError, match="bands mismatch"):
        M.write_dhash_index(batch, maintained, bands=8, mode="append")
    with pytest.raises(ValueError, match="existing"):
        M.write_dhash_index(
            batch, str(tmp_path / "nope"), mode="append"
        )
    with pytest.raises(ValueError, match="overwrite|append"):
        M.write_dhash_index(batch, maintained, mode="errorifexists")


def test_video_neardup_pairs_semantics(spark):
    """video_neardup_pairs over hand-built frame hashes: min_shared
    threshold, the per-video DISTINCT rule (a video repeating one
    frame 10 times still contributes it once), the ubiquitous-frame
    cap (max_hash_videos drops black-frame-style keys BEFORE the
    join), NULL frames ignored, and the MJPEG/GIF decode fan-out
    emitting real per-frame dHashes."""
    import numpy as np
    import pytest

    from mongodb_etl_migration_spark.operators import multimodal as M

    rows = [
        # video 1 and 2 share h1,h2 (pair, n_shared=2); video 3
        # shares only h1 with them (below min_shared=2)
        (1, 0, "aa" * 8), (1, 1, "bb" * 8), (1, 2, "cc" * 8),
        (2, 0, "aa" * 8), (2, 1, "bb" * 8), (2, 2, "dd" * 8),
        (3, 0, "aa" * 8), (3, 1, "ee" * 8),
        # video 4 repeats a frame 3 times: distinct rule
        (4, 0, "bb" * 8), (4, 1, "bb" * 8), (4, 2, "bb" * 8),
        (5, 0, None),  # undecodable frame: ignored
    ]
    fr = spark.createDataFrame(
        rows, "doc_id bigint, frame_idx bigint, dhash string"
    )
    got = {
        (r.id_a, r.id_b): r.n_shared
        for r in M.video_neardup_pairs(fr, min_shared=2).collect()
    }
    assert got == {(1, 2): 2}
    # min_shared=1: the 'aa' frame links 1-2-3 pairwise, 'bb' links 4
    got1 = {
        (r.id_a, r.id_b): r.n_shared
        for r in M.video_neardup_pairs(fr, min_shared=1).collect()
    }
    assert got1 == {
        (1, 2): 2, (1, 3): 1, (2, 3): 1, (1, 4): 1, (2, 4): 1,
    }
    # ubiquitous-frame cap: 'aa' AND 'bb' each appear in 3 videos ->
    # both dropped at cap 2 (no pairs survive on the singletons);
    # cap 3 keeps everything
    assert (
        M.video_neardup_pairs(fr, min_shared=1, max_hash_videos=2).count()
        == 0
    )
    capped3 = {
        (r.id_a, r.id_b): r.n_shared
        for r in M.video_neardup_pairs(
            fr, min_shared=1, max_hash_videos=3
        ).collect()
    }
    assert capped3 == got1
    with pytest.raises(ValueError, match=">= 1"):
        M.video_neardup_pairs(fr, min_shared=0)

    # decode fan-out: two GIFs sharing one of two frames, plus a
    # non-video payload emitting a NULL-dhash row
    pal = np.array([[4 * i] * 3 for i in range(64)], dtype=np.uint8)

    def gif(seeds):
        frames = [
            np.full((8, 9), s % 64, dtype=np.uint8) for s in seeds
        ]
        # flat frames hash to 00*8 regardless of s; vary via a ramp
        for fr_, s in zip(frames, seeds):
            fr_[:, s % 9] = 63
        return M.encode_gif(frames, pal)

    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    mm = spark.createDataFrame(
        [(10, gif([1, 2])), (11, gif([2, 3])), (12, b"not media")],
        StructType(
            [
                StructField("doc_id", LongType()),
                StructField("payload", BinaryType()),
            ]
        ),
    )
    fh = M.video_dhash_frames(mm)
    rows2 = fh.collect()
    assert {r.doc_id for r in rows2} == {10, 11, 12}
    assert all(r.dhash is None for r in rows2 if r.doc_id == 12)
    pairs = M.video_neardup_pairs(fh, min_shared=1).collect()
    assert [(r.id_a, r.id_b, r.n_shared) for r in pairs] == [(10, 11, 1)]


def test_audio_features_exact_windows(spark):
    import io as _io
    import struct as _struct
    import wave as _wave

    from mongodb_etl_migration_spark.operators.multimodal import (
        audio_features,
    )
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        StructField,
        StructType,
    )

    def wav(samples, nch=1):
        buf = _io.BytesIO()
        with _wave.open(buf, "wb") as wf:
            wf.setnchannels(nch)
            wf.setsampwidth(2)
            wf.setframerate(8000)
            wf.writeframes(b"".join(_struct.pack("<h", s) for s in samples))
        return buf.getvalue()

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("payload", BinaryType())]
    )
    rows = [
        (1, wav([3, -3, 3, -3, 3])),          # 4 crossings, partial window
        (2, wav([0, 5, -5, 0, 7])),           # zeros break sign runs: 1 flip
        (3, wav([1, 2, -9, -9, 4, 4], nch=2)),  # stereo: ch0 = [1, -9, 4]
        (4, b"not audio"),                     # undecodable: no rows
    ]
    df = spark.createDataFrame(rows, schema)
    got = {
        (r.doc_id, r.window_idx): (r.n_samples, r.sum_sq, r.zero_crossings)
        for r in audio_features(df, window=4).collect()
    }
    assert got == {
        (1, 0): (4, 36, 3),
        (1, 1): (1, 9, 0),
        (2, 0): (4, 50, 1),   # only 5 -> -5 is a strict sign flip
        (2, 1): (1, 49, 0),
        (3, 0): (3, 98, 2),   # 1 -> -9 -> 4
    }


def test_png_adam7_roundtrip_and_equivalence():
    """Adam7-interlaced PNGs decode to the SAME pixels as sequential
    encoding, across sizes that exercise empty passes (w or h < pass
    offsets) and partial tiles."""
    import numpy as np

    rng = np.random.default_rng(42)
    for h, w in [(1, 1), (2, 3), (7, 7), (8, 8), (9, 13), (16, 5), (33, 31)]:
        px = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        wi, hi, out_i = M.parse_png(M.encode_png(px, interlace=True))
        ws, hs, out_s = M.parse_png(M.encode_png(px, interlace=False))
        assert (wi, hi) == (ws, hs) == (w, h)
        assert np.array_equal(out_i, px) and np.array_equal(out_s, px)


def test_png_adam7_pass_grid_matches_spec():
    """Pin the pass table to the PNG spec 8.2 8x8 tile (a shared-but-
    wrong table would still roundtrip, so this asserts the grid
    itself)."""
    spec_tile = [
        "16462646",
        "77777777",
        "56565656",
        "77777777",
        "36463646",
        "77777777",
        "56565656",
        "77777777",
    ]
    got = [[0] * 8 for _ in range(8)]
    for p, (x0, y0, dx, dy) in enumerate(M._ADAM7, start=1):
        for y in range(y0, 8, dy):
            for x in range(x0, 8, dx):
                assert got[y][x] == 0, "passes must not overlap"
                got[y][x] = p
    assert ["".join(map(str, row)) for row in got] == spec_tile


def test_png_adam7_truncated_pass_raises():
    import struct
    import zlib

    import numpy as np
    import pytest

    px = np.zeros((9, 9, 3), dtype=np.uint8)
    raw = bytearray(M.encode_png(px, interlace=True))
    # rebuild with the last 10 bytes of pixel data missing
    sig_end = 8
    pos = sig_end
    out = bytearray(raw[:sig_end])
    while pos + 8 <= len(raw):
        length, ctype = struct.unpack_from(">I4s", raw, pos)
        body = bytes(raw[pos + 8 : pos + 8 + length])
        pos += 8 + length + 4
        if ctype == b"IDAT":
            body = zlib.compress(zlib.decompress(body)[:-10])
        out += struct.pack(">I", len(body)) + ctype + body
        out += struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    with pytest.raises(ValueError):
        M.parse_png(bytes(out))


def test_pca_power_projection_recovers_dominant_axis(spark):
    """Points stretched along one axis project with that axis
    dominating: the 3-round integer power iterate lands near the true
    top eigenvector, so projections order by the dominant coordinate."""
    import numpy as np

    rng = np.random.default_rng(3)
    # variance 100x larger along dim 0 than elsewhere (16 dims)
    pts = rng.normal(0, 1, (300, 16))
    pts[:, 0] *= 10.0
    rows = [(i, [float(x) for x in pts[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = SIM.pca_power_projection(df, "vec_id", "embedding")
    got = {r.vec_id: r.proj for r in out.collect()}
    # ground truth on the QUANTIZED data (int8 per-vector scaling is
    # part of the operator's geometry): numpy top eigenvector of
    # Q^T Q, then corr(power-iterate projection, exact projection)
    f32 = pts.astype(np.float32).astype(np.float64)
    scales = np.abs(f32).max(axis=1) / 127.0
    q = np.floor(f32 / scales[:, None] + 0.5)
    gram = q.T @ q
    w, vecs = np.linalg.eigh(gram)
    e1 = vecs[:, np.argmax(w)]
    exact = q @ e1
    ys = np.array([got[i] for i in range(300)], dtype=float)
    rho = np.corrcoef(exact, ys)[0, 1]
    assert abs(rho) > 0.99
    # deterministic across reruns
    again = {r.vec_id: r.proj for r in
             SIM.pca_power_projection(df, "vec_id", "embedding").collect()}
    assert got == again


def test_pca_power_projection_zero_matrix(spark):
    df = spark.createDataFrame(
        [(i, [0.0] * 16) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    out = SIM.pca_power_projection(df, "vec_id", "embedding")
    assert {r.proj for r in out.collect()} == {0}


def test_cosine_topk_batch_matches_single_query(spark, sf_dir):
    """Each query's batched slice equals the single-query operator's
    output (same corpus scan answers all queries)."""
    e = Catalog(spark, sf_dir).embeddings
    qs = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in e.filter(F.col("vec_id").isin([0, 5])).orderBy("vec_id").collect()
    ]
    batch = SIM.cosine_topk_batch(e, qs, k=5)
    for qid, vec in qs:
        single = [
            (r.vec_id, r.cos_sim)
            for r in SIM.cosine_topk(e, vec, k=5).collect()
        ]
        sliced = [
            (r.vec_id, r.cos_sim)
            for r in batch.filter(F.col("query_id") == qid)
            .orderBy("rn")
            .collect()
        ]
        assert sliced == single


def test_random_projection_preserves_relative_distance(spark):
    """JL property smoke: two near-identical vectors project near
    each other; an orthogonal-ish one projects far — and the matrix
    is deterministic across calls."""
    import numpy as np

    base = [1.0, 2.0, -3.0, 4.0] * 4
    near = [x * 1.01 for x in base]
    far = [(-1.0) ** i * 5.0 for i in range(16)]
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, far)],
        "vec_id long, embedding array<float>",
    )
    out = {
        r.vec_id: np.array([r.p1, r.p2, r.p3, r.p4], dtype=float)
        for r in SIM.random_projection_int(df, "vec_id").collect()
    }
    d_near = np.linalg.norm(out[1] - out[2])
    d_far = np.linalg.norm(out[1] - out[3])
    assert d_near < d_far
    again = {
        r.vec_id: (r.p1, r.p2, r.p3, r.p4)
        for r in SIM.random_projection_int(df, "vec_id").collect()
    }
    assert again == {k: tuple(v) for k, v in out.items()}


def test_gif_interlace_order_matches_spec_and_roundtrip():
    """Pin the 4-pass table to the 89a appendix-E example (h=8 →
    0,4,2,6,1,3,5,7) — a shared-but-wrong table would still
    roundtrip — then roundtrip NON-constant interlaced frames so row
    placement is actually exercised."""
    import numpy as np

    assert M._gif_interlace_order(8) == [0, 4, 2, 6, 1, 3, 5, 7]
    assert M._gif_interlace_order(5) == [0, 4, 2, 1, 3]
    rng = np.random.default_rng(11)
    pal = rng.integers(0, 256, (8, 3), dtype=np.uint8)
    frames = [
        np.arange(9 * 5, dtype=np.uint8).reshape(9, 5) % 8
        for _ in range(2)
    ]
    w, h, out = M.parse_gif(M.encode_gif(frames, pal, interlace=True))
    assert (w, h) == (5, 9)
    for f, o in zip(frames, out):
        assert np.array_equal(o, pal[f])
    # and the interlaced wire bytes differ from sequential (flag set)
    assert M.encode_gif(frames, pal, interlace=True) != M.encode_gif(
        frames, pal
    )


def test_pq_encode_matches_reference_and_plan(spark):
    """PQ encode: per-subspace argmin equals the plain-Python
    reference (integer distances, ties to the smaller code), d2_total
    is the sum of per-subspace minima, and the plan is shuffle-free
    (codebooks fold in as literals)."""
    import math

    rows = [
        (1, [0.1 * ((i * 7) % 13 - 6) for i in range(16)]),
        (2, [0.05 * ((i * 11) % 17 - 8) for i in range(16)]),
        (3, [0.0] * 16),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = SIM.derived_pq_codebooks(m=2, k=4, dsub=8)
    out = {r.vec_id: (list(r.codes), r.d2_total)
           for r in SIM.pq_encode(df, cb).collect()}
    for vid, v in rows:
        xq = [math.floor(x * 10000 + 0.5) for x in v]
        codes, tot = [], 0
        for s in range(2):
            sub = xq[s * 8:(s + 1) * 8]
            d2s = [sum((a - b) ** 2 for a, b in zip(sub, c)) for c in cb[s]]
            best = min(range(4), key=lambda c: (d2s[c], c))
            codes.append(best)
            tot += d2s[best]
        assert out[vid] == (codes, tot), vid
    plan = (
        SIM.pq_encode(df, cb)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan and "Join" not in plan
    # ragged codebooks are rejected loudly
    import pytest

    with pytest.raises(ValueError, match="ragged"):
        SIM.pq_encode(df, [[[1] * 8, [2] * 7]])
    with pytest.raises(ValueError, match="at least one"):
        SIM.pq_encode(df, [])


def test_pq_adc_topk_scores_and_ordering(spark):
    """ADC top-k: every score equals the LUT-sum of the vector's
    codes (reference-checked), ordering is (score, vec_id)
    deterministic, and the sink is TakeOrderedAndProject —
    per-partition heaps, no corpus shuffle."""
    rows = [
        (i, [0.01 * ((i * j) % 29 - 14) for j in range(16)])
        for i in range(1, 21)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = SIM.derived_pq_codebooks(m=2, k=4, dsub=8)
    qq = [((p * 13) % 21) * 100 - 1000 for p in range(16)]
    got = SIM.pq_adc_topk(df, qq, cb, topk=5).collect()
    lut = SIM.pq_adc_lut(qq, cb)
    codes = {r.vec_id: list(r.codes) for r in SIM.pq_encode(df, cb).collect()}
    scores = sorted(
        (sum(lut[s][c] for s, c in enumerate(cs)), vid)
        for vid, cs in codes.items()
    )
    assert [(r.adc_score, r.vec_id) for r in got] == scores[:5]
    plan = (
        SIM.pq_adc_topk(df, qq, cb, topk=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan and "Exchange hashpartitioning" not in plan
    import pytest

    with pytest.raises(ValueError, match="query dim"):
        SIM.pq_adc_lut([1, 2, 3], cb)


def test_ivf_pq_topk_residual_reference_and_pruning(spark):
    """IVF-PQ: coarse assignment prunes to the probed lists only
    (vectors outside never appear), residual codes + per-list LUT
    sums match the plain-Python reference exactly, and ordering is
    (score, id) deterministic."""
    import math

    rows = [
        (i, [0.02 * ((i * j) % 23 - 11) for j in range(16)], i % 3)
        for i in range(1, 31)
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    coarse = []
    for lb in (0, 1, 2):
        vs = [v for _, v, l in rows if l == lb]
        mean = [sum(col) / len(col) for col in zip(*vs)]
        coarse.append((lb, [math.floor(m * 10000 + 0.5) for m in mean]))
    cb = SIM.derived_pq_codebooks(m=2, k=4, dsub=8, scale=500)
    qq = [((p * 13) % 801) - 400 for p in range(16)]
    got = [
        (r.vec_id, r.assigned, r.adc_score)
        for r in SIM.ivf_pq_topk(df, qq, coarse, cb, nprobe=2, topk=6).collect()
    ]

    def quant(v):
        return [math.floor(x * 10000 + 0.5) for x in v]

    cmap = dict(coarse)
    d2q = sorted(
        (sum((q - c) ** 2 for q, c in zip(qq, cv)), lb) for lb, cv in coarse
    )
    probed = [lb for _, lb in d2q[:2]]
    luts = {
        lb: SIM.pq_adc_lut([q - c for q, c in zip(qq, cmap[lb])], cb)
        for lb in probed
    }
    ref = []
    for vid, v, _ in rows:
        xq = quant(v)
        _, lb = min(
            (sum((a - b) ** 2 for a, b in zip(xq, cv)), l) for l, cv in coarse
        )
        if lb not in luts:
            continue
        res = [a - b for a, b in zip(xq, cmap[lb])]
        score = 0
        for s in range(2):
            sub = res[s * 8:(s + 1) * 8]
            d2s = [sum((a - b) ** 2 for a, b in zip(sub, c)) for c in cb[s]]
            code = min(range(4), key=lambda c: (d2s[c], c))
            score += luts[lb][s][code]
        ref.append((score, vid, lb))
    ref.sort()
    assert got == [(vid, lb, sc) for sc, vid, lb in ref[:6]]
    assert {lb for _, lb, _ in got} <= set(probed)
    import pytest

    with pytest.raises(ValueError, match="query dim"):
        SIM.ivf_pq_topk(df, [1, 2], coarse, cb)


def _pcm16_wav(samples, nch=1, rate=8000):
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(nch)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(np.array(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def _audio_mm(spark, payloads):
    """(doc_id, payload, meta) multimodal frame from {id: wav_bytes}."""
    from pyspark.sql.types import (
        BinaryType,
        LongType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("payload", BinaryType()),
            StructField("meta", MapType(StringType(), StringType())),
        ]
    )
    return spark.createDataFrame(
        [(i, bytearray(p), {"media_type": "audio"}) for i, p in payloads.items()],
        schema,
    )


def test_audio_fingerprint_semantics(spark):
    """audio_fingerprint invariances the near-dup chain relies on:
    volume re-encodes key identically (rank permutation + zc are both
    scale-invariant), window-aligned trims shift window_idx but keep
    the keys, only FULL windows fingerprint, stereo uses channel 0,
    undecodable payloads emit no rows, and degenerate lag sets
    refuse."""
    import random

    import pytest

    rng = random.Random(7)
    base = [rng.randrange(-8000, 8001) for _ in range(256 * 4)]
    payloads = {
        0: _pcm16_wav(base),
        1: _pcm16_wav([2 * s for s in base]),          # volume x2
        2: _pcm16_wav(base[256 * 2:]),                 # 2-window trim
        3: _pcm16_wav(base + [5] * 100),               # partial tail
        4: b"not a wav at all",
        5: _pcm16_wav(
            # stereo: channel 0 = base, channel 1 = junk
            [v for s in base[:512] for v in (s, rng.randrange(-99, 99))],
            nch=2,
        ),
    }
    fp = M.audio_fingerprint(_audio_mm(spark, payloads), window=256)
    rows = fp.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, {})[r.window_idx] = r.fkey
    assert by_doc[1] == by_doc[0]                      # volume invariant
    assert by_doc[2] == {
        wi - 2: k for wi, k in by_doc[0].items() if wi >= 2
    }                                                   # trim shifts
    assert by_doc[3] == by_doc[0]                      # partial dropped
    assert 4 not in by_doc                             # undecodable
    assert by_doc[5] == {wi: by_doc[0][wi] for wi in (0, 1)}  # ch 0
    with pytest.raises(ValueError, match="lag"):
        M.audio_fingerprint(_audio_mm(spark, {}), window=64, lags=(1, 64))
    with pytest.raises(ValueError, match="10 lags"):
        M.audio_fingerprint(
            _audio_mm(spark, {}), window=64, lags=tuple(range(1, 12))
        )


def _audio_family_samples(fam, variant):
    """The m_audio_neardup planting, test-local: v0 = 8 md5-mixed
    256-sample windows (content window 1 silent), v1 = same at double
    volume, v2 = content windows 3..10."""
    import hashlib

    cs = range(3, 11) if variant == 2 else range(0, 8)
    out = []
    for c in cs:
        if c == 1:
            out.extend([0] * 256)
            continue
        for i in range(256):
            h = int(
                hashlib.md5(f"{fam}:{c}:{i}".encode()).hexdigest()[:4],
                16,
            )
            out.append(((h % 16384) - 8192) * (2 if variant == 1 else 1))
    return out


def _audio_family_mm(spark, n_fams):
    """doc_id = fam*3 + variant over _audio_family_samples."""
    return _audio_mm(
        spark,
        {
            fam * 3 + v: _pcm16_wav(_audio_family_samples(fam, v))
            for fam in range(n_fams)
            for v in range(3)
        },
    )


def test_audio_neardup_pairs_cap_and_clusters(spark):
    """The planted family structure through the batch chain: with the
    ubiquitous-key cap the silence window (shared by every v0/v1)
    drops pre-join, so v0-v1 shares exactly its 7 real windows (8
    without the cap — the cap is value-load-bearing) and each family
    closes into one cluster keyed by its min member."""
    fp = M.audio_fingerprint(
        _audio_family_mm(spark, 3), window=256
    ).localCheckpoint(eager=False)
    capped = {
        (r.id_a, r.id_b): r.n_shared
        for r in M.audio_neardup_pairs(
            fp, min_shared=5, max_key_audios=3
        ).collect()
    }
    want = {}
    for fam in range(3):
        a, b, c = fam * 3, fam * 3 + 1, fam * 3 + 2
        want.update({(a, b): 7, (a, c): 5, (b, c): 5})
    assert capped == want
    uncapped = {
        (r.id_a, r.id_b): r.n_shared
        for r in M.audio_neardup_pairs(fp, min_shared=5).collect()
    }
    assert uncapped[(0, 1)] == 8
    comps = {
        r.id: r.component
        for r in connected_components(
            M.audio_neardup_pairs(fp, min_shared=5, max_key_audios=3)
        ).collect()
    }
    assert comps == {
        fam * 3 + v: fam * 3 for fam in range(3) for v in range(3)
    }


def test_audio_neardup_persisted_index_probe(spark, tmp_path):
    """Incremental audio near-dup: probe == from-scratch batch run
    over history ∪ batch restricted to cross pairs, INCLUDING the
    union ubiquitous-key cap (silence is in the index F times and the
    batch F times — only the union count crosses the cap, so getting
    this wrong shows up as v0-v1 n_shared 8). Append maintenance:
    parameter-mismatched appends refuse; an appended index probes
    identically to a rebuild."""
    import pytest

    mm = _audio_family_mm(spark, 3).localCheckpoint(eager=False)
    variant = F.expr("doc_id % 3")
    hist = mm.filter(variant != 0)
    batch = mm.filter(variant == 0)
    path = str(tmp_path / "audiofp")
    M.write_audio_fp_index(
        M.audio_fingerprint(hist, window=256), path, window=256
    )
    st = spark.read.parquet(f"{path}/_stats").collect()[0]
    assert (st["buckets"], st["window"], st["n_audios"]) == (16, 256, 6)
    got = {
        (r.id_new, r.id_indexed): r.n_shared
        for r in M.audio_neardup_against_index(
            batch, path, min_shared=5, max_key_audios=3
        ).collect()
    }
    full = {
        (r.id_a, r.id_b): r.n_shared
        for r in M.audio_neardup_pairs(
            M.audio_fingerprint(mm, window=256),
            min_shared=5,
            max_key_audios=3,
        ).collect()
    }
    batch_ids = {fam * 3 for fam in range(3)}
    want = {}
    for (a, b), n in full.items():
        if a in batch_ids and b not in batch_ids:
            want[(a, b)] = n
        elif b in batch_ids and a not in batch_ids:
            want[(b, a)] = n
    assert got == want and len(want) > 0
    assert got[(0, 1)] == 7  # capped over the UNION, not per side

    # append maintenance: refusals + parity with a rebuild
    fp_b = M.audio_fingerprint(batch, window=256)
    with pytest.raises(ValueError, match="mismatch"):
        M.write_audio_fp_index(
            fp_b, path, window=512, mode="append"
        )
    with pytest.raises(ValueError, match="existing"):
        M.write_audio_fp_index(
            fp_b, str(tmp_path / "nope"), window=256, mode="append"
        )
    M.write_audio_fp_index(fp_b, path, window=256, mode="append")
    assert (
        spark.read.parquet(f"{path}/_stats").collect()[0]["n_audios"] == 9
    )
    rebuilt = str(tmp_path / "audiofp_rebuilt")
    M.write_audio_fp_index(
        M.audio_fingerprint(mm, window=256), rebuilt, window=256
    )
    # fresh doc ids carrying the SAME family-0/1 reels, so the probe
    # genuinely matches both the appended rows (v0, fam 0/1) and the
    # original history (v1/v2)
    probe = _audio_mm(
        spark,
        {
            100 + fam: _pcm16_wav(_audio_family_samples(fam, 0))
            for fam in range(2)
        },
    )
    a = sorted(
        (r.id_new, r.id_indexed, r.n_shared)
        for r in M.audio_neardup_against_index(
            probe, path, min_shared=5
        ).collect()
    )
    b = sorted(
        (r.id_new, r.id_indexed, r.n_shared)
        for r in M.audio_neardup_against_index(
            probe, rebuilt, min_shared=5
        ).collect()
    )
    assert a == b and len(a) >= 6  # per fam: v0 (appended), v1, v2


def test_audio_probe_empty_batch_and_bucket_prune(spark, tmp_path):
    """r15 static index prune: the probe collects the batch's distinct
    kb values (bounded by the index's buckets parameter) and pushes a
    static isin() into the index scan. Value-level pins: (a) an EMPTY
    probe batch returns an empty frame (the isin([]) guard), (b) a
    single-family batch — whose keys cover a strict subset of buckets,
    so the prune actually removes partitions — probes identically to
    the pre-prune semantics (cross pairs of the family only)."""
    mm = _audio_family_mm(spark, 2).localCheckpoint(eager=False)
    variant = F.expr("doc_id % 3")
    hist = mm.filter(variant != 0)
    path = str(tmp_path / "audiofp_prune")
    M.write_audio_fp_index(
        M.audio_fingerprint(hist, window=256), path, window=256
    )
    empty = mm.filter(F.lit(False))
    assert (
        M.audio_neardup_against_index(empty, path, min_shared=1).count()
        == 0
    )
    one_fam = _audio_mm(
        spark, {0: _pcm16_wav(_audio_family_samples(0, 0))}
    )
    got = {
        (r.id_new, r.id_indexed): r.n_shared
        for r in M.audio_neardup_against_index(
            one_fam, path, min_shared=5, max_key_audios=3
        ).collect()
    }
    # family 0's v0 matches its own v1/v2 (ids 1, 2) and nothing else
    assert set(got) == {(0, 1), (0, 2)}


def test_video_neardup_aligned_separates_trim_from_shuffle(spark):
    """The planted fixture bag-of-frames cannot separate: video 1 =
    frames a..f in order; video 2 = the TRIMMED copy (b..e, constant
    offset); video 3 = the REVERSED re-cut of all six frames. Video 3
    shares MORE frames with 1 (6 > 4), yet its longest aligned run is
    1 while the trim scores 4 — alignment, not bag size, ranks the
    true copy. Also: duplicate in-video frames, the ubiquitous-key
    cap (distinct-videos frequency), and min_shared refusal."""
    import pytest

    from mongodb_etl_migration_spark.operators import multimodal as M

    h = [f"{c}" * 16 for c in "abcdef"]
    rows = (
        [(1, k, h[k]) for k in range(6)]
        + [(2, k, h[k + 1]) for k in range(4)]
        + [(3, k, h[5 - k]) for k in range(6)]
    )
    fr = spark.createDataFrame(
        rows, "doc_id bigint, frame_idx bigint, dhash string"
    )
    got = {
        (r.id_a, r.id_b): (r.n_shared, r.longest_run)
        for r in M.video_neardup_aligned(fr, min_shared=2).collect()
    }
    assert got == {
        (1, 2): (4, 4),  # trim: delta -1 constant, idx_a 1..4
        (1, 3): (6, 1),  # reversal: every delta distinct
        (2, 3): (4, 1),  # trim vs reversal: deltas 4-2j
    }
    # bag-of-frames ranks 3 ABOVE 2 — the separation the run fixes
    bag = {
        (r.id_a, r.id_b): r.n_shared
        for r in M.video_neardup_pairs(fr, min_shared=2).collect()
    }
    assert bag[(1, 3)] > bag[(1, 2)]

    # a looping video (frame repeated at several indices) still runs:
    # video 4 = a,b,a,b matches video 1's a,b at two deltas; the
    # aligned run through (a,b) at delta 0 is 2
    loop = spark.createDataFrame(
        [(1, k, h[k]) for k in range(6)]
        + [(4, 0, h[0]), (4, 1, h[1]), (4, 2, h[0]), (4, 3, h[1])],
        "doc_id bigint, frame_idx bigint, dhash string",
    )
    lg = {
        (r.id_a, r.id_b): (r.n_shared, r.longest_run)
        for r in M.video_neardup_aligned(loop, min_shared=2).collect()
    }
    assert lg == {(1, 4): (2, 2)}

    # ubiquitous-key cap: frequency counts DISTINCT videos, so the
    # repeats inside video 4 don't trip a cap of 2
    capped = {
        (r.id_a, r.id_b): (r.n_shared, r.longest_run)
        for r in M.video_neardup_aligned(
            loop, min_shared=2, max_hash_videos=2
        ).collect()
    }
    assert capped == lg
    assert (
        M.video_neardup_aligned(
            loop, min_shared=1, max_hash_videos=1
        ).count()
        == 0
    )
    with pytest.raises(ValueError, match=">= 1"):
        M.video_neardup_aligned(fr, min_shared=0)


def test_video_neardup_persisted_index_probe(spark, tmp_path):
    """Incremental video near-dup (the last modality's probe path):
    probe == from-scratch batch run over history ∪ batch restricted
    to cross pairs, including the union ubiquitous-frame cap; append
    maintenance refuses parameter mismatches, derives n_videos from
    the postings, and an appended index probes identically to a
    rebuild. Synthetic GIF reels through the REAL codec."""
    import numpy as np
    import pytest

    from mongodb_etl_migration_spark.operators.multimodal import encode_gif

    pal = np.array([[4 * i] * 3 for i in range(64)], dtype=np.uint8)

    import hashlib

    def gif(seeds):
        frames = []
        for s in seeds:
            if s < 0:  # the ubiquitous black frame
                frames.append(np.zeros((8, 9), dtype=np.uint8))
                continue
            frames.append(
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
            )
        return encode_gif(frames, pal)

    # families of 3: v0 (batch) = boards f..f+3, v1 = trim f+1..f+3
    # (shares 3), v2 = unrelated; every video also carries one
    # ubiquitous BLACK frame (identical across all 9 videos)
    def reel(fam, variant):
        base = fam * 1000
        seeds = {
            0: [base + k for k in range(4)],
            1: [base + k + 1 for k in range(4)],
            2: [base + 500 + k for k in range(4)],
        }[variant]
        return gif(seeds + [-1])

    rows = [
        (fam * 3 + v, reel(fam, v))
        for fam in range(3)
        for v in range(3)
    ]
    mm = spark.createDataFrame(
        rows, "doc_id bigint, payload binary"
    ).localCheckpoint(eager=False)
    variant = F.expr("doc_id % 3")
    hist_frames = M.video_dhash_frames(mm.filter(variant != 0))
    batch = mm.filter(variant == 0)
    path = str(tmp_path / "vframes")
    M.write_video_frame_index(hist_frames, path, every_n=1)
    st = spark.read.parquet(f"{path}/_stats").collect()[0]
    assert (st["buckets"], st["every_n"], st["n_videos"]) == (16, 1, 6)

    got = {
        (r.id_new, r.id_indexed): r.n_shared
        for r in M.video_neardup_against_index(
            batch, path, min_shared=2, max_hash_videos=3
        ).collect()
    }
    full = {
        (r.id_a, r.id_b): r.n_shared
        for r in M.video_neardup_pairs(
            M.video_dhash_frames(mm), min_shared=2, max_hash_videos=3
        ).collect()
    }
    batch_ids = {fam * 3 for fam in range(3)}
    want = {}
    for (a, b), n in full.items():
        if a in batch_ids and b not in batch_ids:
            want[(a, b)] = n
        elif b in batch_ids and a not in batch_ids:
            want[(b, a)] = n
    assert got == want and len(want) > 0
    # the ubiquitous frame (9 videos > cap 3) never inflates counts:
    # v0-v1 share exactly their 3 trim frames
    assert got[(0, 1)] == 3

    # append maintenance: refusals + parity with a rebuild
    batch_frames = M.video_dhash_frames(batch)
    with pytest.raises(ValueError, match="parameter mismatch"):
        M.write_video_frame_index(
            batch_frames, path, every_n=2, mode="append"
        )
    with pytest.raises(ValueError, match="existing"):
        M.write_video_frame_index(
            batch_frames, str(tmp_path / "nope"), mode="append"
        )
    with pytest.raises(ValueError, match="overwrite|append"):
        M.write_video_frame_index(batch_frames, path, mode="errorifexists")
    M.write_video_frame_index(batch_frames, path, every_n=1, mode="append")
    assert (
        spark.read.parquet(f"{path}/_stats").collect()[0]["n_videos"] == 9
    )
    rebuilt = str(tmp_path / "vframes2")
    M.write_video_frame_index(M.video_dhash_frames(mm), rebuilt, every_n=1)
    probe = mm.filter(F.col("doc_id") >= 6)  # family 2 as probe set
    a = sorted(
        (r.id_new, r.id_indexed, r.n_shared)
        for r in M.video_neardup_against_index(
            probe, path, min_shared=2
        ).collect()
    )
    b = sorted(
        (r.id_new, r.id_indexed, r.n_shared)
        for r in M.video_neardup_against_index(
            probe, rebuilt, min_shared=2
        ).collect()
    )
    assert a == b and len(a) > 0


def test_audio_neardup_aligned_delegation(spark):
    """audio_neardup_aligned == video_neardup_aligned over the
    fingerprint frame (the delegation contract), and the temporal
    separation is real on audio data: a window-aligned trim runs
    contiguously while a REMIXED reel (same windows, reordered)
    shares as many keys but runs 1."""
    fam = 0
    rows = []
    # audio 0: windows 0..5 keyed k0..k5; audio 1: trim (windows
    # 1..4 at idx 0..3); audio 2: the same six keys REVERSED
    keys = [f"perm{fam}{k}:{k}" for k in range(6)]
    rows += [(0, i, keys[i]) for i in range(6)]
    rows += [(1, i, keys[i + 1]) for i in range(4)]
    rows += [(2, i, keys[5 - i]) for i in range(6)]
    fp = spark.createDataFrame(
        rows, "doc_id bigint, window_idx bigint, fkey string"
    )
    got = {
        (r.id_a, r.id_b): (r.n_shared, r.longest_run)
        for r in M.audio_neardup_aligned(fp, min_shared=2).collect()
    }
    assert got == {
        (0, 1): (4, 4),  # trim: contiguous at one delta
        (0, 2): (6, 1),  # remix: more shared keys, runs of 1
        (1, 2): (4, 1),
    }
    via_video = {
        (r.id_a, r.id_b): (r.n_shared, r.longest_run)
        for r in M.video_neardup_aligned(
            fp, idx_col="window_idx", hash_col="fkey", min_shared=2
        ).collect()
    }
    assert via_video == got
