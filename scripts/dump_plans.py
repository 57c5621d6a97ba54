#!/usr/bin/env python
"""Regenerate PLANS.md: captured physical plans for the queries whose
shape carries the scale argument, with what-to-look-for notes.

Usage: python scripts/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import re
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from mongodb_etl_migration_spark import get_spark  # noqa: E402
from mongodb_etl_migration_spark.queries import QUERIES  # noqa: E402

NOTES = {
    "t_unigram_train": (
        "Unigram-LM trainer: ONE corpus-sized word-count exchange; "
        "seeding and every EM round run on the distinct-words frame "
        "(Viterbi = zero-shuffle literal-map fold, usage = one "
        "vocabulary-keyed exchange, bounded vocabulary-sized collects "
        "<= seed_size). Costs are no-libm Q16 integer logs."
    ),
    "t_unigram_ids": (
        "Unigram Viterbi encode via the DICTIONARY path "
        "(token_ids_dedup): the DP fold (literal-map costs/ids, zero "
        "UDF) runs once per DISTINCT wordform; the corpus-side word "
        "stream meets the encoded dictionary in a BROADCAST join "
        "(never shuffled for the join) and one groupBy(doc) exchange "
        "reassembles streams in word order — the zipfian dedup win, "
        "measured 4.8x over the per-occurrence fold at sf0.1."
    ),
    "t_wordpiece_train": (
        "WordPiece trainer (BERT family): ONE corpus-sized word-count "
        "exchange, then delta-maintained driver-side merges over the "
        "dimension-sized vocabulary — scores compared EXACTLY via the "
        "fixed-point key (cnt << 100) // (lcnt*rcnt), no floats "
        "anywhere. The plan is the word count plus a driver-result "
        "scan, the bpe_train shape."
    ),
    "t_wordpiece_ids": (
        "WordPiece greedy longest-match encode via the DICTIONARY "
        "path (token_ids_dedup): per DISTINCT word, a coalesce chain "
        "of length-descending literal-map probes (bare start forms / "
        "stripped continuations), broadcast-joined back + one "
        "groupBy(doc) reassembly exchange. Honest-OOV NULLs ride "
        "through as 'x'."
    ),
    "m_image_caption_curation": (
        "LAION-shape pair curation: the m_image_neardup chain "
        "(banded self-join + star-CC) feeding dedup_representatives' "
        "LEFT ANTI against the duplicate-sized loser set, then the "
        "caption join + token gate — dedup propagation to the pair "
        "table without any corpus exchange beyond the near-dup ones."
    ),
    "m_audio_neardup_aligned": (
        "Temporally-aligned audio near-dup: the window key is the "
        "blocking key (same exchange as m_audio_neardup), then the "
        "video_neardup_aligned island algebra over window indices — "
        "longest aligned run tells a double-volume re-encode "
        "(delta-0 run split by the capped silence window) from a "
        "window-aligned trim (contiguous run); windows and "
        "aggregates candidate-match-bounded."
    ),
    "m_video_neardup_probe": (
        "Incremental video near-dup: the batch decodes + dHashes only "
        "itself (index's OWN every_n stride from its stats row) and "
        "equi-joins the md5-bucketed persisted postings on "
        "(kb, dhash) — history never re-decoded; the union "
        "ubiquitous-frame cap is candidate-bounded."
    ),
    "m_video_neardup_aligned": (
        "Temporally-aligned video near-dup: frame-hash blocking above "
        "ONE repartition (ReusedExchange), then gaps-and-islands on "
        "idx_a - row_number within (pair, delta) — the islands window "
        "and both aggregates are candidate-match-bounded and "
        "partitioned; longest aligned run separates a trim from a "
        "shuffled re-cut that bag-of-frames ranks HIGHER."
    ),
    "m_audio_neardup": (
        "Audio near-dup end-to-end: per-window integer fingerprint "
        "(octave-lag difference-energy rank permutation + exact "
        "zero-crossing count, volume-invariant) over the real PCM16 "
        "decode (Arrow batches), then the window key IS the blocking "
        "key — one distinct (audio, key) exchange + a per-key "
        "self-join above a single repartition (ReusedExchange); "
        "never all-pairs of audios; the silence-window ubiquitous "
        "key drops pre-join (max_key_audios)."
    ),
    "m_audio_neardup_probe": (
        "Incremental audio near-dup: the batch decodes and "
        "fingerprints only itself (index's OWN window/lags from its "
        "stats row) and equi-joins the md5-bucketed persisted "
        "postings on (kb, fkey) — history never re-decoded; the "
        "union ubiquitous-key cap is candidate-bounded."
    ),
    "m_video_neardup": (
        "Video near-dup: per-frame dHash fan-out (Arrow batches, real "
        "GIF/MJPEG decode), then the frame hash IS the blocking key — "
        "one distinct (video, hash) exchange + a per-hash self-join "
        "above a single repartition (ReusedExchange); never all-pairs "
        "of videos; ubiquitous frames droppable pre-join."
    ),
    "m_image_neardup_probe": (
        "Incremental image near-dup: the batch bands only itself and "
        "equi-joins the persisted band index (PartitionFilters-capable "
        "layout; banding from the index's own stats row) — history is "
        "never re-decoded; the Hamming confirm is candidate-bounded."
    ),
    "m_image_neardup": (
        "Image near-dup end-to-end: dHash (Arrow batches) -> 4x16-bit "
        "Hamming bands (narrow posexplode) -> per-bucket self-join on "
        "(band, band_key) with BOTH sides renamed above one repartition "
        "exchange (ReusedExchange hashes the corpus once) -> exact "
        "xor/popcount confirm as a projection over candidate pairs -> "
        "star CC rounds over confirmed pairs. Never all-pairs; the "
        "corpus-sized stage is the banded exchange."
    ),
    "s1_filtered_scan": (
        "Predicate pushdown: both filters appear in PushedFilters on the "
        "parquet scan; ReadSchema carries only the 4 projected columns."
    ),
    "j1_fk_resolution": (
        "The id-mapper cache as three BroadcastHashJoins — zero Exchange "
        "on the fact side (bench records 0 shuffle bytes)."
    ),
    "j5_top1_per_group": (
        "WindowGroupLimit BELOW the Exchange: each map task keeps only "
        "its per-group top row before shuffling — the latest-record "
        "pattern at 100 TB shuffles ~#groups rows, not the fact table."
    ),
    "o3_limit_sample": (
        "TakeOrderedAndProject: per-partition top-k heap + driver merge; "
        "no global sort, no full shuffle."
    ),
    "d2_minhash_lsh_pairs": (
        "Signature + banding are narrow projections over materialized "
        "token/shingle/hash arrays; the candidate self-join shuffles "
        "on (band, band_key) ONCE — both sides rename above the same "
        "exchange, so the final adaptive plan reads one map output "
        "twice (ReusedExchange) instead of recomputing the signature "
        "pipeline per side."
    ),
    "t_curation_pipeline": (
        "Dedup -> quality -> language in one plan: a single hash "
        "aggregate exchange. Scores are emitted BY the aggregate, so "
        "the quality/lang filter reads plain attributes — predicate "
        "pushdown cannot duplicate the scoring trees into the Filter."
    ),
    "j13_asof_join": (
        "As-of join as union + running last_value window: ONE Exchange "
        "on the key for |L|+|R| rows — no range-join candidate blowup, "
        "no nested loop."
    ),
    "j14_interval_join": (
        "Range join as a bucketized EQUI-join: intervals explode to "
        "overlapped buckets, the join hashes on (key, bucket) — a "
        "plain hash join (broadcast at this SF, shuffled+AQE-split at "
        "scale), never BroadcastNestedLoopJoin."
    ),
    "t_tfidf_top_terms": (
        "TF-IDF: tf and df aggregates both partial-agg before their "
        "exchanges; the per-doc top-k shows WindowGroupLimit twice "
        "(Partial below the doc_id exchange, Final above) — map-side "
        "k-row heads, the fact table never shuffles whole."
    ),
    "e_attribution_join": (
        "Stream-stream join's batch twin: one equi-join on user_id "
        "(broadcast at this SF, shuffled at scale) with the interval "
        "predicate as a join condition — no CartesianProduct, no "
        "BroadcastNestedLoopJoin."
    ),
    "j8b_upsert": (
        "Exact ON CONFLICT upsert: update side aggregated once, then "
        "one BroadcastHashJoin (matched update) + one broadcast "
        "left-anti (inserts) unioned — the target scans once; no "
        "full-table shuffle."
    ),
    "j9_hierarchy_resolution": (
        "Hierarchy as ONE declarative plan: a single-task dense "
        "row_number by (depth, path) over the dimension-sized folder "
        "set, checkpointed lazily, + one broadcast self-join on "
        "parent_path — no driver loop, no per-level checkpoints; "
        "plan depth independent of tree depth."
    ),
    "k2_timeuuid": (
        "UUID invariant check: ONE ArrowEvalPython stage (the "
        "timeuuid pandas UDF); the 60-bit timestamp roundtrip and "
        "version/variant checks are JVM expressions over the uuid "
        "string; dup-count window shuffles on the uuid itself "
        "(unique keys — no skew)."
    ),
    "sim_kmeans": (
        "Lloyd's k-means, final-assignment plan: centroids are plan "
        "literals after the driver-held update rounds, so the output "
        "is one narrow Project over the scan — the iterative "
        "algorithm leaves NO join and no shuffle in the result plan."
    ),
    "d9_best_representatives": (
        "Quality-ranked survivors: ranking window runs over the "
        "duplicate-sized member set (component labels broadcast); "
        "the corpus appears only under the final anti join."
    ),
    "sim_topk_int8": (
        "Quantized top-k: quantize → dequantize → cosine all fuse "
        "into one projection; TakeOrderedAndProject does the top-10 "
        "with per-partition heaps — zero Exchange."
    ),
    "d8_incremental_neardup": (
        "Incremental near-dup: only the NEW batch runs the "
        "shingle/md5 signature pipeline; the history side is the "
        "band index over the history (read in full: a probe "
        "carries every band id). The join shuffles band "
        "rows, never raw text."
    ),
    "t_shard_pack": (
        "Shard packing: the prefix-sum Window is PARTITIONED by "
        "source — one Exchange on the group key, cumulative sums "
        "parallel across groups, no global sort anywhere in the "
        "plan."
    ),
    "t_decontaminate": (
        "Decontamination: the eval-set gram table broadcasts "
        "(BroadcastHashJoin, no Exchange on the corpus side before "
        "the join); the only Exchange carries matched (doc, gram) "
        "rows — shuffle is proportional to contamination found, not "
        "corpus size."
    ),
    "sim_centroid_assign": (
        "IVF coarse quantizer: the k×dim centroid table is folded "
        "into the plan as literals, so the assignment is one narrow "
        "Project over the scan — NO Exchange, no join; argmin via "
        "array_min over integer-distance structs (bit-deterministic)."
    ),
    "j16_salted_join": (
        "Salted skew join on (key, salt): here the ×8-exploded small "
        "side still fits a BroadcastExchange (no shuffle at all); "
        "when it doesn't, the same plan becomes a SortMergeJoin whose "
        "hot key spreads over 8 reducers. Either way the oracle is "
        "the PLAIN join — salting is result-invisible by construction."
    ),
    "t_decontaminate_bloom": (
        "Bloom pre-filter: the bitset probe is plan-literal column "
        "arithmetic (element_at + getbit on a literal array<bigint>) "
        "evaluated in the same stage as the gram explode — "
        "non-candidate grams die BEFORE the exact confirm "
        "BroadcastHashJoin ever sees them. Same output as "
        "t_decontaminate, bitwise."
    ),
    "sim_semdedup": (
        "SemDeDup: the near-dup pair plan (one Exchange on the LSH "
        "bucket, per-row norms precomputed, quadratic only within a "
        "bucket) feeding a LeftAnti BroadcastHashJoin whose build "
        "side is the DROPPED-id set — duplicate-sized, not "
        "corpus-sized."
    ),
    "a15_grouping_sets": (
        "Grouping-sets lattice: ONE Expand node (4 projections of "
        "each input row) into a single partial+final HashAggregate "
        "pair — cells, both marginals and the grand total in one "
        "pass/shuffle instead of four scans."
    ),
    "j17_fuzzy_join": (
        "Blocked fuzzy join: the left side explodes 2d+1 length keys, "
        "the equi-join on the band key replaces the all-pairs "
        "BroadcastNestedLoopJoin a naive theta-join would plan; the "
        "levenshtein filter confirms above the join."
    ),
    "t_span_dedup": (
        "Span dedup: winner selection is a partial_min-combinable "
        "HashAggregate on the span hash (NO corpus-wide window), the "
        "reassembly a second hash aggregate on the doc id — two "
        "Exchanges carrying md5+ids, the text only on surviving rows."
    ),
    "a16_heavy_hitters": (
        "Heavy hitters: the freqItems candidate pass aggregates "
        "bounded per-partition state (no row Exchange); the confirm "
        "pass shows the isin(candidates) filter pushed into the scan "
        "and partial aggregation collapsing candidate rows map-side "
        "before the only Exchange."
    ),
    "t_inverted_index": (
        "One exchange total, on term: distinct (doc, term) pairs come "
        "from array_distinct BEFORE explode (per-row, no distinct "
        "aggregation or (doc, term) exchange), and the row_number "
        "window + df/postings groupBy share that single term "
        "exchange. Posting arrays are bounded (CASE WHEN rn<=20 "
        "inside collect_list; NULLs skipped) so a stopword's "
        "aggregation buffer is fixed-size while count(1) still "
        "reports the full df."
    ),
    "w_url_dedup": (
        "Canonical-URL first-wins dedup: the row_number trim "
        "compiles to map-side WindowGroupLimit (Partial below the "
        "exchange, Final above) — each duplicate group ships one row "
        "per map partition. One exchange on the canonical key; the "
        "URL regexes live in a codegen'd Project where runtime "
        "subexpression elimination evaluates each distinct subtree "
        "once per row."
    ),
    "t_collision_score": (
        "Zero shuffle: three chained narrow Projects (tokenize -> "
        "per-distinct-word counts via transform/filter lambdas -> "
        "integer fold), each referencing the previous stage's "
        "materialized column exactly once — HOF lambda bodies sit "
        "outside codegen CSE, so the staging is what keeps the "
        "tokenizer from re-running per consumer."
    ),
    "e_funnel": (
        "Two exchanges: the user_id window exchange (both RANGE-frame "
        "prefix minima ride the SAME Window sort — two Window "
        "operators, one Exchange) and the tiny 4-key stage "
        "histogram. Per-row state is one running min per funnel "
        "step; no per-user event buffering."
    ),
    "g_pagerank_trade": (
        "The relational Pregel with iteration hygiene: edges/nodes/"
        "out-degrees persist for the loop and each round's node-sized "
        "ranks localCheckpoint (eager), so a round is 2 exchanges "
        "(src join, dst sum) against cached edges — lazy-unrolled, "
        "this plan re-derived the 4-table edge build every round (27 "
        "exchanges for 3 rounds). Fixed-point long arithmetic: the "
        "unrolled SQL oracle matches bit-for-bit. NOTE: the captured "
        "plan below is the FINAL round's (the returned frame is "
        "checkpointed; earlier rounds already executed)."
    ),
    "a17_shipping_priority": (
        "Q3 shape: segment+date filters pushed to the scans, "
        "dimensions broadcast (2 BroadcastHashJoins, 0 SortMerge), "
        "top-10 compiles to TakeOrderedAndProject with an l_orderkey "
        "tie-break so the LIMIT cutoff is engine-stable."
    ),
    "a18_regional_trade": (
        "Q5 shape: six scans with pushed filters, region->nation "
        "prune broadcast down the dimension chain (5 "
        "BroadcastHashJoins, 0 SortMerge), c=s nation residual on "
        "the supplier join, 5-group partial aggregation."
    ),
    "a19_copurchase_pairs": (
        "Apriori ordering: the frequent-item prune aggregates and "
        "filters BEFORE the per-basket self-join, so basket width — "
        "the quadratic dimension — shrinks first; both self-join "
        "sides share the basket-key exchange."
    ),
    "w_domain_caps": (
        "Per-domain crawl caps: PSL registered_domain is two "
        "BroadcastHashJoins (zero shuffle; the full 9k-entry PSL "
        "keeps the shape), then stratified_take's rank window — "
        "WindowGroupLimit BELOW the Exchange trims each map task to "
        "8 rows per domain before the only shuffle."
    ),
    "t_dup_spans": (
        "ExactSubstr duplicated spans: corpus counts ride ONE "
        "fingerprint exchange (window over whash, no groupBy + "
        "self-join); the island merge is two window functions over "
        "the per-doc position exchange. Shuffle is the exploded "
        "k-gram set — the irreducible input of substring dedup."
    ),
    "t_dup_spans_exact": (
        "ExactSubstr at the 50-byte character threshold: the same "
        "one-fingerprint-exchange + island-merge shape as "
        "t_dup_spans; each position's window string is built ONCE "
        "inside the transform lambda (Generate explodes (pos, _w)), "
        "and hash / length gate / token coverage derive from the "
        "staged _w in post-explode projections — look for a single "
        "array_join per position, never a duplicated slice subtree."
    ),
    "t_gopher_repetition": (
        "Full Gopher §A1.1 family: one Project chain, corpus-linear, "
        "ZERO exchanges on a real (many-splits) corpus — locally the "
        "gated CPU-bound fan-out fires (files < cores, same heuristic "
        "as minhash; 1.2 s vs 6.8 s at sf0.1) and shows as a single "
        "RoundRobin exchange below the scoring projections. The "
        "token array, line array, and each of the 9 sorted-gram "
        "folds (gram_run_stats: one O(L) adjacent-equality aggregate "
        "per n) sit in their OWN projections so CollapseProject "
        "cannot duplicate a subtree: the __grt token materialization "
        "must appear exactly once in the plan, and each "
        "sort_array(...) exactly once per n."
    ),
    "t_dup_spans_probe": (
        "Incremental ExactSubstr: TWO BroadcastHashJoins, both "
        "building batch-derived sides (the distinct batch "
        "fingerprints reduce the corpus index via an inner join "
        "before the left join back) — no SortMergeJoin, the corpus "
        "index is scanned but never shuffled. A LeftOuter join "
        "against the raw index would plan BuildRight on the INDEX "
        "(review finding, round 9) and shuffle the corpus at scale."
    ),
    "t_corpus_diversity": (
        "Diversity report: the two count-distincts compile to the "
        "standard Expand + two-phase HashAggregate — exchanges carry "
        "(domain, term) / (domain, doc) pairs, linear in tokens, "
        "bounded output (#domains rows); no collect anywhere."
    ),
    "w_quality_feedback": (
        "Quality-feedback crawl tiers: the classifier margin folds "
        "inline per document (map-literal aggregate, no explode/"
        "join), PSL rule joins broadcast, and the plan's ONLY "
        "exchange is the per-domain aggregate with map-side partial "
        "integer sums; output bounded by #domains."
    ),
    "t_seq_shuffle": (
        "Deterministic epoch shuffle: pack_sequences' single bucket "
        "exchange, then the permutation = one RangePartitioning "
        "exchange on the md5 order key + per-partition row_number "
        "(Window below a partition-local sort) + a BroadcastHashJoin "
        "against the tiny offsets relation — NO global (empty "
        "partitionBy) window anywhere."
    ),
    "w_robots_filter": (
        "RFC 9309 rule matching: rules aggregate on the KB-scale side "
        "and broadcast; longest-prefix resolution is array "
        "higher-order functions — zero shuffle on the corpus side."
    ),
    "w_crawl_curation": (
        "End-to-end crawl curation: the response/200 predicate is "
        "Spark's own Filter directly above `BatchScan warc`, in the "
        "scan stage (no PushedFilters: the `warc` source accepts "
        "none, since Spark 4.1 keeps one reader per loaded frame and "
        "a pushed filter would leak into every other scan of it). "
        "The per-host cap's exchange is the plan's ONLY shuffle, "
        "trimmed map-side by WindowGroupLimit."
    ),
    "w_warc_source": (
        "File-based crawl ingest: records explode INSIDE the scan "
        "stage — the plan is one BatchScan over the Python `warc` "
        "data source (one InputPartition per .warc/.warc.gz shard, "
        "records streamed one at a time off the gzip member chain) "
        "followed by a narrow Project; no Exchange anywhere, so a "
        "WARC → extract → curate pipeline's only shuffle is whatever "
        "the downstream curation operators need."
    ),
    "t_quality_classifier": (
        "Model-based curation gate: the integer weight relation is a "
        "BroadcastHashJoin against the exploded tokens (OOV drops in "
        "the join; a weight-0 sentinel keeps zero-hit docs alive, so "
        "there is NO join back onto the id spine); the per-doc "
        "margin sum is the plan's only Exchange, with partial "
        "aggregation map-side."
    ),
    "v4_table_diff": (
        "Row-level migration diff: both sides project to (key, md5 "
        "canonical hash) before the full-outer join, so the sole "
        "exchange carries two hash columns, never the table width; "
        "status CASE + unchanged-row filter sit above the join, "
        "bounding output by the drift."
    ),
    "a20_bilateral_trade": (
        "Q7 shape: nation-pruned supplier and customer chains "
        "BROADCAST against the shipdate-filtered lineitem scan "
        "(PushedFilters on the date range); lineitem⋈orders is the "
        "only fact-fact join; 0 SortMergeJoin at this SF, final "
        "4-group aggregate collapses map-side."
    ),
    "a21_returned_items": (
        "Q10 shape: returnflag + order-quarter predicates pushed "
        "into both fact scans; customer⋈nation broadcast; top-20 is "
        "TakeOrderedAndProject over the decimal-exact revenue key — "
        "per-partition heaps, no global sort."
    ),
    "t_bpe_tokens": (
        "REAL BPE token counts as pure expression work: the merge "
        "table compiles to a nested-replace chain inside transform/"
        "aggregate lambdas over the token array — one Project over "
        "the parquet scan, zero Exchange, zero Python."
    ),
    "t_temperature_mix": (
        "Temperature mixing: after the O(#domains) count collect, "
        "the plan is ONE narrow Filter (60-bit md5 hash gate CASE'd "
        "per domain) over the scan — no Exchange; the kept-row set "
        "is layout- and rerun-independent."
    ),
    "sim_topk_batch": (
        "Batched ANN serving: the query batch is a plan-literal "
        "struct array exploded per corpus row (Generate — no "
        "BroadcastNestedLoopJoin cross product); the per-query rank "
        "window shows WindowGroupLimit BELOW the single query_id "
        "Exchange, so each map task ships k rows per query."
    ),
    "w_url_quality": (
        "Pre-fetch URL gate: all four spam heuristics are one "
        "Project over the scan — zero Exchange, zero Python; the "
        "regex trees run once per row (flags derive from shared "
        "materialized columns)."
    ),
    "w_blocklist_filter": (
        "Blocklist gate: PSL suffix tables and the domain blocklist "
        "are all BroadcastHashJoins (the blocklist anti-join "
        "included); the banned-word check is array_intersect against "
        "a literal in the same Filter — no Exchange anywhere."
    ),
    "t_paragraph_dedup": (
        "CCNet paragraph dedup: the winner rule is a hash-partitioned "
        "min AGGREGATE (map-side combinable partial), not a corpus "
        "window, and its exchange carries (md5, id, line_idx) ONLY — "
        "line text crosses exactly one exchange: the id join against "
        "the per-document keep-set array, whose partitioning the "
        "reassembly groupBy(id) reuses."
    ),
    "w_frontier_pipeline": (
        "Sitemap frontier loop: every per-level fetch is a "
        "BroadcastHashJoin of the KB-scale seed set INTO the pages "
        "corpus (look for one BroadcastExchange per level and NO "
        "SortMergeJoin — the corpus never shuffles while the loop "
        "recurses sitemapindex → children); gunzip + extraction are "
        "narrow; the only corpus-width exchange is crawl_schedule's "
        "per-domain rank window, WindowGroupLimit-trimmed map-side."
    ),
    "w_robots_filter": (
        "robots.txt gate with RFC 9309 wildcards: patterns compile "
        "to anchored regexes on the rules side BEFORE the per-host "
        "collect_list, the rule sets reach the corpus via one "
        "BroadcastHashJoin, and match + most-specific resolution are "
        "array higher-order functions in a Project — zero corpus "
        "Exchange."
    ),
    "t_lang_id": (
        "fastText-shape language ID: grams explode narrowly "
        "(Generate), the per-language integer weight relation is ONE "
        "BroadcastHashJoin (k languages = k weight COLUMNS, not k "
        "joins), and the per-document sums partial-aggregate "
        "map-side — the sole Exchange carries one (doc, k sums) row "
        "per doc per map task."
    ),
    "t_bpe_pretok": (
        "Byte-level BPE: the GPT-2 pretokenizer regex, byte-alphabet "
        "translate, and compiled merge chain are all ONE Project "
        "over the scan — zero Exchange, zero Python; the published "
        "pattern's lookahead runs native in Java regex."
    ),
    "sim_pq_encode": (
        "Product-quantization encode: the m*k*dsub codebook folds in "
        "as literals, and the encode is a chain of narrow Projects "
        "(quantize -> subvector slices -> per-subspace argmin "
        "structs -> codes) — zero Exchange, zero Join, zero Python; "
        "each stage materializes what the next references more than "
        "once, so per-row work is exactly m*k*dsub integer ops."
    ),
    "t_fineweb_pipeline": (
        "End-to-end curation in one plan: Gopher gate and BPE "
        "counting are pure projections; the classifier and lang-id "
        "aggregates are the two real exchanges (map-side partials), "
        "joined back on doc_id (AQE-coalesced); the per-source cap "
        "shows WindowGroupLimit below its exchange. No other "
        "shuffle, no Python."
    ),
    "sim_ivfpq_topk": (
        "IVF-PQ serve path: coarse argmin + probe Filter + residual "
        "code argmins + LUT-map scoring are ALL narrow projections "
        "over literals (look for the create_map literals and no Join "
        "nodes); TakeOrderedAndProject is the only data movement — "
        "at scale the probe filter becomes partition pruning over "
        "list-partitioned storage."
    ),
    "sim_pq_topk": (
        "PQ asymmetric-distance serving: scoring is an m-step "
        "zip_with fold over literal LUT arrays on top of the encode "
        "chain; the only data movement is TakeOrderedAndProject "
        "(per-partition top-k heaps + driver merge) — at 100 TB the "
        "scan reads m bytes of codes per vector, never d floats."
    ),
    "t_lang_id_hashed": (
        "Hashing-trick language ID: t_lang_id's exact shape — narrow "
        "gram explode, ONE BroadcastHashJoin, map-side-combined sums "
        "on the sole Exchange — but the join key is the md5 60-bit "
        "bucket, so the broadcast relation is bounded by 2^13 rows "
        "at ANY vocabulary size (the fastText ~1M-gram regime rides "
        "the same plan)."
    ),
    "t_bpe_ids": (
        "GPT-2 integer token ids: t_bpe_pretok's zero-shuffle encode "
        "chain plus ONE literal map lookup per symbol (look for the "
        "map_from_arrays literal) — the expensive merge chain is "
        "referenced once (split -> filter -> transform), never "
        "re-evaluated, and the id table never joins."
    ),
    "o6_zorder_layout": (
        "Z-order layout: the Morton interleave is one Project of "
        "unrolled shift/OR terms (codegen, no UDF); file boundaries "
        "come from ONE exact-percentile aggregate collapsing to a "
        "bounded driver row (no global window/ntile — the classic "
        "single-task scale-killer), folded back as literal "
        "comparisons; the min/max receipt is one partial-agg "
        "exchange."
    ),
    "t_seq_pack": (
        "Training-sequence packing: ONE exchange (the bucket "
        "groupBy); in-bucket order is array_sort over collected "
        "(id, ids) structs — per-bucket state bounded by the "
        "documented buckets-sized-to-fit rule — then window slicing "
        "is a narrow explode + slice projection."
    ),
    "c_chat_render": (
        "Chat-template rendering: turn parsing, the template fold, "
        "and the size filter are ONE Project+Filter over the scan — "
        "ZERO exchanges, zero Python. Rendering a 100 TB conversation "
        "dump is a map."
    ),
    "c_loss_mask": (
        "Train-on-assistant loss-mask spans: the offset fold runs "
        "inside one aggregate expression per row, then a narrow "
        "Generate (explode) — ZERO exchanges, no window, no "
        "explode-then-regroup."
    ),
    "c_conv_dedup": (
        "Conversation dedup on the assistant transcript: the md5 key "
        "is a projection; exactly ONE exchange (the key groupBy, "
        "partial-aggregated map-side)."
    ),
    "sim_bitext_margin": (
        "Bitext mining: LSH buckets make the candidate join an "
        "EQUI-join (no cartesian, no BNLJ); the candidate frame is "
        "lazily localCheckpointed because BOTH rank sides consume it "
        "(without it the join + every pair cosine would evaluate "
        "twice — the plan below starts from the materialized scan); "
        "each side's rank window and aggregate share one exchange; "
        "the mutual-best join is a plain hash join. All traffic "
        "linear in candidate pairs."
    ),
    "t_bm25_retrieval": (
        "BM25 retrieval: tf/dl aggregates over the token explode, df "
        "reusing tf rows, query terms as a BroadcastHashJoin, and the "
        "per-query top-k trimmed map-side by WindowGroupLimit below "
        "its exchange. Scoring is a pure decimal projection — no "
        "floats, no UDFs."
    ),
    "t_fim_transform": (
        "FIM prep: the 40/30/30 split, both sentinels orders, and the "
        "counts are ONE Project over the scan — zero Exchange, zero "
        "Python."
    ),
    "t_span_corruption": (
        "T5 span corruption: blocks, sentinels, both surfaces and the "
        "counts are ONE Project over the scan — zero Exchange, zero "
        "Python; the denoising-objective prep for 100 TB is a map."
    ),
    "c_dpo_pairs": (
        "DPO preference pairs: the prompt key and score are per-row "
        "projections; chosen/rejected come from struct min/max in ONE "
        "partial-aggregated exchange — never a per-group sort or "
        "self-join."
    ),
    "sim_hard_negatives": (
        "Hard-negative mining: reads the SAME materialized candidate "
        "frame as the miner (one localCheckpoint scan feeding both "
        "the margin pipeline and the negatives rank window) plus one "
        "equi-join against mined src ids — no second bucket join, no "
        "recomputed cosines."
    ),
    "t_bm25_probe": (
        "BM25 against the materialized index: the postings windows "
        "(dl/df denormalization) pay at BUILD time; the probe side is "
        "query terms broadcast into the postings, the shared scoring "
        "projection, one aggregate exchange, and the WindowGroupLimit "
        "top-k — the raw corpus never re-explodes (the persisted-path "
        "plan, with PartitionFilters on the term buckets, is pinned "
        "in tests/test_bm25.py)."
    ),
    "c_conv_dedup_probe": (
        "Incremental conversation dedup: only the BATCH is keyed (a "
        "projection + its dedup aggregate); the history index joins "
        "via BroadcastHashJoin with the batch side built — the "
        "corpus-sized index is scanned, never shuffled (no "
        "SortMergeJoin, plan-pinned in the suite)."
    ),
    "c_json_ingest": (
        "Structured-chat ingest: to_json, the planted corruption, "
        "from_json, turn_idx derivation, and the render fold are ONE "
        "Project over the scan — zero Exchange, zero Python."
    ),
    "t_span_corruption_seeded": (
        "Seeded span corruption: the md5 offset draw rides inside the "
        "same single Project as the block/sentinel mechanics — still "
        "zero Exchange, zero Python (2x md5 per block, once per "
        "output surface — documented at the operator)."
    ),
    "t_fim_transform_seeded": (
        "Seeded FIM: both cut-point hashes and the three slices are "
        "ONE Project over the scan — zero Exchange, zero Python."
    ),
    "t_bm25_probe_persisted": (
        "The PERSISTED BM25 path a production probe takes: the "
        "postings FileScan carries PartitionFilters on exactly the "
        "query terms' tbucket values (real directory pruning — ≤|Q| "
        "of 64 partitions read whatever the corpus size, modulus from "
        "the index's own stats row) plus the broadcast query join and "
        "the shared ranking tail; the raw corpus appears nowhere."
    ),
    "t_bm25_maintained": (
        "Index maintenance: the two batches' additive tf layers union "
        "and re-sum (one aggregate exchange), dl/df re-derive as "
        "windows over the maintained tf — raw text is tokenized once "
        "per batch at ingest and never re-read; probe tail unchanged."
    ),
    "c_render_chatml": (
        "Template render + mask + the emitted substring proof: one "
        "Project over the scan — zero Exchange, zero Python, for a "
        "newline-bearing template (offsets are template data)."
    ),
    "c_sft_tokens": (
        "Token-space loss masks: per-segment BPE encode, the mask "
        "fold, the masked-ids decode, and the roundtrip comparison "
        "are ALL one Project over the scan — zero Exchange, zero "
        "Python. Tokenizing 100 TB of conversations is a map."
    ),
    "t_pack_bestfit": (
        "Fewer-truncations packing: chunk explode is narrow; ONE "
        "exchange (the bucket groupBy) collects each bucket's items; "
        "the BFD placement fold and the element_at assembly are "
        "per-row array expressions above it — same plan class as the "
        "concat packer, quality paid in per-bucket compute."
    ),
    "c_pack_sft": (
        "The end-to-end SFT artifact: the whole tokenize/mask leg is "
        "the c_sft_tokens projection; packing adds exactly ONE "
        "exchange (bucket groupBy) with the BFD fold and the "
        "offset-remap assembly above it — one shuffle between raw "
        "conversations and trainer-ready bins."
    ),
}


def _no_expr_ids(line: str) -> str:
    """``fileURL#66`` → ``fileURL#``: exprIds number every attribute
    the process has allocated so far, so they change whenever any
    earlier plan does; the receipt must change only with its own."""
    return re.sub(r"#\d+", "#", line)


def messages_pipeline_section(spark) -> str:
    """Receipt for the messages entity plan: exactly ONE Salsa20
    decrypt stage (round-2 defect: pushdown substitution doubled it).
    Read from the compiled entity: the pipeline's ``messages_by_room``
    is a fan-out output over a lazy localCheckpoint, whose plan is a
    checkpoint scan."""
    from datetime import datetime

    from pyspark.sql import functions as F

    from mongodb_etl_migration_spark.fixtures import all_sources
    from mongodb_etl_migration_spark.functions.crypto import (
        make_url_decrypt_rewrite,
    )
    from mongodb_etl_migration_spark.pipeline import (
        FILEURL_IV,
        FILEURL_KEY,
        messages_spec,
        run_reference_pipeline,
    )
    from mongodb_etl_migration_spark.plans.compiler import compile_entity

    run_ts = datetime(2024, 1, 1)
    src = all_sources(spark)
    out = run_reference_pipeline(src, run_ts)
    id_maps = {
        "rooms_by_mongo": out["rooms_by_mongo"].select(
            F.col("mongo_id").alias("natural_key"), F.col("room_id").alias("id")
        ),
        "user_by_mongo": out["user"].select(
            F.col("mongo_id").alias("natural_key"), F.col("id")
        ),
    }
    spec = messages_spec(run_ts, make_url_decrypt_rewrite(FILEURL_KEY, FILEURL_IV))
    plan = (
        compile_entity(spec, src["messages"], id_maps)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    n_dec = plan.count("_decrypt_fb")
    n_arrow = plan.count("ArrowEvalPython")
    arrow_lines = "\n".join(
        _no_expr_ids(ln.strip())[:160]
        for ln in plan.splitlines()
        if "ArrowEvalPython" in ln
    )
    return (
        "\n## messages entity pipeline (not a catalog query)\n\n"
        "The hottest Python work on the 100 TB path: the Salsa20 URL "
        f"decrypt must appear EXACTLY once. Measured: {n_dec} "
        f"_decrypt_fb stage(s), {n_arrow} ArrowEvalPython total "
        "(the decrypt alone; the uuid5/timeuuid keys are Column "
        "expressions).\n\n"
        f"```\n{arrow_lines}\n```\n"
    )


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plans")
    spark.sparkContext.setLogLevel("ERROR")
    out = [
        "# PLANS — physical-plan receipts\n",
        f"Captured by `scripts/dump_plans.py` at `{sf_dir}` "
        "(AQE initial plans; regenerate after planner-relevant changes).\n",
    ]
    for name, note in NOTES.items():
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the operator tree + scan details, trim the node glossary
        tree = plan.split("\n\n(1)")[0].strip()
        scan_bits = [
            _no_expr_ids(ln.strip())
            for ln in plan.splitlines()
            if "PushedFilters" in ln
            or "ReadSchema" in ln
            or "PartitionFilters" in ln
        ]
        out.append(f"\n## {name}\n\n{note}\n\n```\n{tree}\n```\n")
        if scan_bits:
            out.append("Scan details:\n\n```\n" + "\n".join(scan_bits) + "\n```\n")
    out.append(messages_pipeline_section(spark))
    out.append(scale_receipt_section())
    Path(__file__).resolve().parents[1].joinpath("PLANS.md").write_text(
        "\n".join(out)
    )
    print("PLANS.md written")
    spark.stop()


def scale_receipt_section() -> str:
    """Summarize BENCH_scale.json (scripts/bench_scale.py) so the
    scale receipt survives PLANS.md regeneration."""
    import json

    path = Path(__file__).resolve().parents[1] / "BENCH_scale.json"
    if not path.exists():
        return ""
    d = json.loads(path.read_text())
    rows = []
    for cfg, r in d["configs"].items():
        if "d2_minhash_pairs" not in r:
            continue  # media configs: _media_scale_section
        d2 = r["d2_minhash_pairs"]
        sd = r.get("sim_semdedup", {})
        bl = r.get("t_decontaminate_bloom", {})
        rows.append(
            f"| {cfg} ({r['dup_pct']}% dups, {r.get('planes', 4)} planes) "
            f"| {r['docs']:,} | {d2['shuffle_bytes']/1e6:.1f} MB "
            f"| {d2['sec']} s | {d2['pairs_found']:,} "
            f"| {sd.get('sec', '—')} s | {bl.get('sec', '—')} s |"
        )
    s = d["summary"]
    return (
        "\n## Scale receipt: dedup/ANN/curation at 10x corpus "
        "(BENCH_scale.json)\n\n"
        "`scripts/bench_scale.py` synthesizes 10x-sf0.1 corpora "
        "(replica words get replica-unique suffixes: zero "
        "cross-replica shingles, pure corpus growth) and re-measures "
        "the bucketed-path operators:\n\n"
        "| config | docs | d2 shuffle | d2 wall | d2 pairs "
        "| semdedup wall | bloom-decon wall |\n"
        "|---|---|---|---|---|---|---|\n" + "\n".join(rows) + "\n\n"
        f"- 10x corpus -> {s['shuffle_growth_at_10x_corpus']}x d2 "
        "shuffle (linear banding rows, never quadratic), "
        f"{s['wall_growth_at_10x_corpus']}x wall.\n"
        f"- 4x dup rate -> {s['pair_growth_at_4x_dup_rate']}x pair "
        "OUTPUT while the shuffled input tracks corpus size: join "
        "output follows duplication content.\n"
        f"- Bloom decontamination shuffle growth at 10x corpus: "
        f"{s['bloom_shuffle_growth_at_10x_corpus']}x (eval set fixed "
        "-> contamination fixed -> confirm-join shuffle FLAT while "
        "the corpus grows).\n"
        f"- SemDeDup shuffle growth: "
        f"{s['semdedup_shuffle_growth_at_10x_corpus']}x (linear in "
        "corpus) with planes scaled log2(N) — 4 planes/16 buckets at "
        "2k vectors, 8/256 at 20k — keeping within-bucket quadratic "
        "work bounded (a FIXED blocker at 10x measured 21x wall; "
        "plane count tracking corpus size is the operating rule).\n"
        "- sim_topk_lsh stays ~0.2 s / ~3 KB shuffle at 10x vectors: "
        "the bucket probe prunes before any wide work.\n"
        + _text_index_lines(s)
        + _media_scale_section(d)
    )


def _media_scale_section(d: dict) -> str:
    """The ``media_*`` configs of BENCH_scale.json: image and video
    near-dup and unigram training at base, 10x and 100x media."""
    def cell(r: dict, op: str) -> str:
        m = r.get(op)
        if m is None:
            return "— | — | —"
        out = m.get("pairs_found", m.get("pieces"))
        return f"{m['shuffle_bytes']/1e6:.1f} MB | {m['sec']} s | {out:,}"

    rows = [
        f"| {cfg} ({r['dup_pct']}% dups) | {r['images']:,} "
        f"| {cell(r, 'm_image_neardup')} "
        f"| {format(r['videos'], ',') if 'videos' in r else '—'} "
        f"| {cell(r, 'm_video_neardup_capped')} "
        f"| {cell(r, 't_unigram_train')} |"
        for cfg, r in d["configs"].items()
        if cfg.startswith("media_")
    ]
    if not rows:
        return ""
    s = d["summary"]
    bullets = {
        "m_image_neardup_shuffle_growth_at_100x_corpus":
            "image near-dup shuffle growth at 100x media",
        "m_video_neardup_shuffle_growth_at_100x_corpus":
            "video near-dup (hot-frame capped) shuffle growth at 100x media",
        "image_neardup_pair_growth_at_4x_dup_rate":
            "image near-dup pair OUTPUT growth at 4x dup rate",
        "unigram_train_shuffle_growth_at_10x_corpus":
            "unigram training shuffle growth at 10x corpus",
    }
    return (
        "\n## Scale receipt: media near-dup and unigram at 10x and 100x "
        "(BENCH_scale.json)\n\n"
        "| config | images | image shuffle | image wall | image pairs "
        "| videos | video shuffle | video wall | video pairs "
        "| unigram shuffle | unigram wall | unigram pieces |\n"
        "|---|---|---|---|---|---|---|---|---|---|---|---|\n"
        + "\n".join(rows) + "\n\n"
        + "".join(
            f"- {text}: {s[key]}x.\n" for key, text in bullets.items() if key in s
        )
    )


def _text_index_lines(s: dict) -> str:
    """Text-index scale ratios (absent from pre-round-4 BENCH_scale
    runs, hence the guard)."""
    inv = s.get("inverted_index_shuffle_growth_at_10x_corpus")
    rb = s.get("rare_bigram_shuffle_growth_at_10x_corpus")
    if inv is None or rb is None:
        return ""
    return (
        f"- Text-index family: inverted index shuffle grows {inv}x at "
        "10x corpus (shuffle = the distinct (doc, term) set, linear; "
        "posting-list state stays capped regardless of df), "
        f"rare-bigram scoring {rb}x (the exploded bigram set through "
        "the window count and per-doc rollup), wall sub-linear "
        "thanks to parallel splits.\n"
        + _dup_span_lines(s)
    )


def _dup_span_lines(s: dict) -> str:
    """ExactSubstr scale ratios (absent pre-round-5, hence the guard)."""
    sh = s.get("dup_spans_shuffle_growth_at_10x_corpus")
    sp = s.get("dup_spans_growth_at_4x_dup_rate")
    if sh is None or sp is None:
        return ""
    return (
        f"- ExactSubstr duplicated spans: shuffle grows {sh}x at 10x "
        "corpus (the exploded k-gram fingerprint set, linear) while "
        f"span OUTPUT grows {sp}x at 4x dup rate — the work tracks "
        "duplication content, not corpus volume.\n"
    )


if __name__ == "__main__":
    main()
