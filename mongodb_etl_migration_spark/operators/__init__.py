"""Operator library.

``denorm``     — top-1-per-group, denormalizing joins, pair generation,
                 many-to-many explode, merge/upsert/CDC (SURVEY §2.5);
                 multi-output fan-out is ``plans.compiler
                 .compile_entity_outputs`` (§2.9)
``hierarchy``  — iterative materialized-path resolution (J9)
``validation`` — anti-join orphan checks, count reconciliation (§5)
``dedup``      — exact / MinHash-LSH / SimHash / n-gram-Jaccard /
                 embedding near-dup (training-data extensions)
``similarity`` — brute-force + LSH-bucketed ANN over embeddings
``text``       — language-ID, quality scoring, token counting,
                 fingerprinting
``multimodal`` — binary-column plumbing with stubbed decoders
"""
