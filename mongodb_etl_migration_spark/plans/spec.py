"""Entity specifications — the reference's FieldMapper/settings model
as data (SURVEY.md §7.1).

The reference declares, per (entity, destination): field projections as
row lambdas (etl/transformers/field_mapper.py:18-354), extraction
filters (etl/extractors/mongo_extractor.py:28-103), FK lookups
(etl/utils/id_mapper.py) and key strategy
(etl/utils/cassandra_id_mapper.py), executed eagerly by the
orchestrator. Here the same declaration compiles to ONE lazy DataFrame
plan per (entity, destination) — filters first (pushdown-able),
projections as Column expressions, FK resolution as broadcast left
joins, keys as deterministic functions.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import Column, DataFrame


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
class KeySpec:
    """Surrogate-key strategy for an entity (SURVEY §2.4)."""

    kind: str  # 'sequential' | 'uuid5' | 'timeuuid'
    source_col: str = "mongo_id"
    # sequential: the id order (required); timeuuid: (ts_col,)
    order_by: tuple[str, ...] = ()
    out: str = "id"


@dataclass
class EntitySpec:
    """One source entity → one destination table (the caller passes
    the source frame to the compiler)."""

    destination: str
    # Predicates applied BEFORE projection (P4-P7 hoisted for pushdown,
    # SURVEY §7.4.4). Callables get the source DataFrame → Column.
    filters: tuple[Callable[[DataFrame], Column], ...] = ()
    # Derived columns computed after filters, before FK joins — for
    # normalized join keys (F19: strip _ROLE before the role-name
    # join) and ref coalescing (`x._id` vs bare string).
    derivations: dict[str, Callable[[DataFrame], Column]] = field(
        default_factory=dict
    )
    # Predicates applied AFTER derivations — for gates that must see a
    # derived value (the reference's transform-time drops, e.g.
    # data_transformer.py:433-443 checks the DECRYPTED, bucket-rewritten
    # fileURL before the DOCUMENTO .pdf gate; a raw-column filter would
    # test ciphertext). These do not push to the scan by design.
    post_filters: tuple[Callable[[DataFrame], Column], ...] = ()
    # dest_col -> Column builder (the FieldMapper projection, P1).
    projection: dict[str, Callable[[DataFrame], Column]] = field(default_factory=dict)
    fk_joins: tuple[FKJoin, ...] = ()
    key: KeySpec | None = None
    # §2.9 multi-output fan-out: extra destinations derived from the
    # COMPILED entity frame (post-projection, post-key). Each entry is
    # (optional row filter, projection dict); rooms → organizations /
    # rooms_by_mongo, user → the Cassandra users projection
    # (etl/orchestrator.py:326-453, 455-507).
    side_outputs: dict[
        str,
        tuple[
            Callable[[DataFrame], Column] | None,
            dict[str, Callable[[DataFrame], Column]],
        ],
    ] = field(default_factory=dict)
