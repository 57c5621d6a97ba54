"""Spec → DataFrame compiler.

Stage order matters for Catalyst:
1. filters first (so predicates sit directly on the scan and push down
   to parquet/connector — the Spark analogue of the reference pushing
   its message filter into Mongo find(),
   etl/extractors/mongo_extractor.py:53-72);
2. FK-resolution broadcast joins (replacing IDMapper dict caches,
   etl/utils/id_mapper.py:22-92);
3. projection to destination columns (FieldMapper,
   etl/transformers/field_mapper.py:550-578);
4. surrogate keys last, over the projected columns (deterministic;
   never a join dependency — SURVEY §4 "candidate-but-rejected"): the
   spec's key Columns in order, or sequential ids by ``mongo_id``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mongodb_etl_migration_spark.functions.keys import assign_sequential_ids
from mongodb_etl_migration_spark.plans.spec import EntitySpec


def compile_entity(
    spec: EntitySpec,
    source_df: DataFrame,
    id_maps: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Compile one entity spec to a lazy DataFrame.

    ``id_maps``: dim-name → DataFrame(natural_key, id) for FK joins
    (the broadcast replacement of the reference's preloaded caches,
    etl/orchestrator.py:86-102).
    """
    df = source_df
    for pred in spec.filters:
        df = df.filter(pred)

    for name, col in spec.derivations.items():
        df = df.withColumn(name, col)

    for pred in spec.post_filters:
        df = df.filter(pred)

    for fk in spec.fk_joins:
        if id_maps is None or fk.dim not in id_maps:
            raise KeyError(f"missing id map for dimension {fk.dim!r}")
        dim = id_maps[fk.dim].select(
            F.col("natural_key").alias(fk.on), F.col("id").alias(fk.out)
        )
        df = df.join(F.broadcast(dim), fk.on, fk.how)

    df = df.select(*[col.alias(dest) for dest, col in spec.projection.items()])

    for name, col in spec.keys.items():
        df = df.withColumn(name, col)
    if spec.sequential_id:
        df = assign_sequential_ids(df, ["mongo_id"], "id")
    return df


def compile_entity_outputs(
    spec: EntitySpec,
    source_df: DataFrame,
    id_maps: dict[str, DataFrame] | None = None,
) -> dict[str, DataFrame]:
    """Compile the entity AND its §2.9 side-outputs: the main frame is
    materialized once and each side output is a cheap filter+projection
    over it — one scan feeding N sinks (etl/orchestrator.py:326-453).

    Materialization is a ``localCheckpoint(eager=False)``, not a
    DataFrame cache: a CacheManager entry is keyed by logical plan and
    outlives every reference, while local-checkpoint blocks belong to
    the RDD and are freed by the ContextCleaner once the caller drops
    the returned frames — nothing to unpersist. The pin calls no
    action, but building it is not free: under AQE it plans the main
    frame and runs every shuffle and broadcast stage below it (the FK
    broadcasts, a sequential key's range shuffle) before this function
    returns. The final stage runs with the first output's action, which
    stores the blocks; the rest reuse them.

    Fault-tolerance tradeoff: localCheckpoint truncates lineage, so
    losing an executor that holds checkpoint blocks between the first
    and Nth output action fails the remaining actions instead of
    recomputing them — the failed write is retried by re-running the
    pipeline (its outputs are pure functions of the sources).
    """
    main = compile_entity(spec, source_df, id_maps)
    if not spec.side_outputs:
        return {spec.destination: main}
    main = main.localCheckpoint(eager=False)
    outs = {spec.destination: main}
    for name, (pred, projection) in spec.side_outputs.items():
        df = main.filter(pred) if pred is not None else main
        outs[name] = df.select(*[col.alias(dest) for dest, col in projection.items()])
    return outs
