"""Entity specifications — the reference's FieldMapper/settings model
as data (SURVEY.md §7.1).

The reference declares, per (entity, destination): field projections as
row lambdas (etl/transformers/field_mapper.py:18-354), extraction
filters (etl/extractors/mongo_extractor.py:28-103), FK lookups
(etl/utils/id_mapper.py) and key strategy
(etl/utils/cassandra_id_mapper.py), executed eagerly by the
orchestrator. Here the same declaration is plain data — every filter,
derivation, projection and key is an unresolved Spark ``Column`` naming
the columns it reads — and compiles to ONE lazy DataFrame plan per
(entity, destination): filters first (pushdown-able), FK resolution as
broadcast left joins, projection, then keys as deterministic functions.
A spec holds live Columns, so build it inside an active session.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column


@dataclass
class FKJoin:
    """J1-style lookup: left join dim (natural_key → surrogate id).

    dim: name of the dimension entity whose id-map to join;
    on: source column holding the natural key (e.g. a mongo_id ref);
    out: output column for the resolved id. Miss ⇒ NULL (left join),
    matching data_transformer.py:274-321.
    """

    dim: str
    on: str
    out: str
    how: str = "left"


@dataclass
class EntitySpec:
    """One source entity → one destination table (the caller passes
    the source frame to the compiler)."""

    destination: str
    # dest_col -> Column over the joined frame (the FieldMapper
    # projection, P1); the compiled frame has exactly these columns
    # plus its keys.
    projection: dict[str, Column]
    # Predicates applied BEFORE projection (P4-P7 hoisted for pushdown,
    # SURVEY §7.4.4).
    filters: tuple[Column, ...] = ()
    # Derived columns computed after filters, before FK joins — for
    # normalized join keys (F19: strip _ROLE before the role-name
    # join) and ref coalescing (`x._id` vs bare string).
    derivations: dict[str, Column] = field(default_factory=dict)
    # Predicates applied AFTER derivations — for gates that must see a
    # derived value (the reference's transform-time drops, e.g.
    # data_transformer.py:433-443 checks the DECRYPTED, bucket-rewritten
    # fileURL before the DOCUMENTO .pdf gate; a raw-column filter would
    # test ciphertext). These do not push to the scan by design.
    post_filters: tuple[Column, ...] = ()
    fk_joins: tuple[FKJoin, ...] = ()
    # Surrogate keys (SURVEY §2.4) computed over the projected columns:
    # K1 uuid5 / K2 timeuuid as key_col -> Column ...
    keys: dict[str, Column] = field(default_factory=dict)
    # ... or K3: number the rows 1..n by mongo_id into `id`.
    sequential_id: bool = False
    # §2.9 multi-output fan-out: extra destinations derived from the
    # COMPILED entity frame (post-projection, post-key). Each entry is
    # (optional row filter, projection dict); rooms → organizations /
    # rooms_by_mongo, user → the Cassandra users projection
    # (etl/orchestrator.py:326-453, 455-507).
    side_outputs: dict[str, tuple[Column | None, dict[str, Column]]] = field(
        default_factory=dict
    )
