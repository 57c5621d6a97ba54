"""Operator library.

``denorm``     — top-1-per-group, pair generation, many-to-many
                 explode, merge/upsert/CDC (SURVEY §2.5); the
                 denormalizing joins are plain broadcast joins at the
                 call site, and multi-output fan-out is
                 ``plans.compiler.compile_entity_outputs`` (§2.9)
``hierarchy``  — materialized-path resolution: dense ids plus one
                 parent self-join, no loop (J9)
``validation`` — anti-join orphan checks, count reconciliation (§5)
``dedup``      — exact / MinHash-LSH / SimHash / n-gram-Jaccard /
                 embedding near-dup (training-data extensions)
``similarity`` — brute-force + LSH-bucketed ANN over embeddings
``text``       — language-ID, quality scoring, token counting,
                 fingerprinting
``multimodal`` — binary-column plumbing with stubbed decoders
"""
