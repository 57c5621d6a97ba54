"""Source readers — SURVEY.md §2.1 S1–S5.

Parquet is the in-repo source format (driver testdata). The mongo path
is the same call shape with format("mongodb") — kept behind an option
so the engine runs without the connector jar. Filters are passed as
Column predicates applied directly on the scan; Catalyst pushes
supported predicates into the source (check ``PushedFilters`` in
.explain — the equivalent of the reference's server-side find() query,
etl/extractors/mongo_extractor.py:28-103).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType


def read_entity(
    spark: SparkSession,
    path: str,
    filters: Sequence[Column] = (),
    columns: Sequence[str] | None = None,
    fmt: str = "parquet",
    options: dict[str, str] | None = None,
) -> DataFrame:
    """S1/S3: filtered, projected scan. Column pruning via select and
    predicate pushdown via filter-on-scan are both Catalyst-automatic."""
    reader = spark.read.format(fmt)
    for k, v in (options or {}).items():
        reader = reader.option(k, v)
    df = reader.load(path)
    for f in filters:
        df = df.filter(f)
    if columns:
        df = df.select(*columns)
    return df


def read_json_documents(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Mongo-shaped nested JSON ingest (S5): permissive mode keeps
    malformed docs (defensive, like the reference's .get() accessors);
    explicit schema avoids a second inference pass over 100 TB.

    With an explicit schema a ``_corrupt_record`` column is appended
    and wired as the corrupt-record sink: without it, a malformed line
    becomes an all-NULL row indistinguishable from a legitimately
    empty document — undetectable, unquarantinable. Callers filter
    ``_corrupt_record IS NOT NULL`` to route bad lines to a dead-letter
    sink."""
    reader = spark.read.option("mode", "PERMISSIVE")
    if schema is not None:
        if "_corrupt_record" not in schema.fieldNames():
            # copy, don't .add(): StructType.add mutates in place and
            # returns self, so the CALLER's schema object would grow a
            # _corrupt_record field it then trips over elsewhere
            # (align_to_schema, a second read with the same object)
            schema = StructType(
                list(schema.fields)
                + [StructField("_corrupt_record", StringType())]
            )
        reader = reader.schema(schema).option(
            "columnNameOfCorruptRecord", "_corrupt_record"
        )
    return reader.json(path)


# ---------------------------------------------------------------------
# Mongo extended-JSON normalization (S5 ingest shape)
# ---------------------------------------------------------------------


def normalize_extended_json(df: DataFrame) -> DataFrame:
    """Rewrite MongoDB extended-JSON wrapper structs into plain typed
    columns, recursively: ``{"$oid": s}`` → string, ``{"$date": iso}``
    / ``{"$date": {"$numberLong": ms}}`` → timestamp,
    ``{"$numberLong"|"$numberInt"|"$numberDouble": v}`` → numeric,
    ``{"$numberDecimal": v}`` → decimal(38,10).

    The reference deserializes these per-document in Python
    (etl/extractors/mongo_extractor.py:211-237 serialize_document —
    ObjectId/datetime walk); here the walk happens ONCE over the
    SCHEMA at plan time, emitting pure Column expressions — no UDF, no
    per-row Python, safe for a 100 TB ingest. Arrays recurse through
    ``transform`` (one-time ingest cost; keep downstream hot paths on
    the materialized result)."""
    # df[name], not F.col(name): Mongo field names may contain dots,
    # which F.col would parse as a nested reference
    return df.select(
        *[
            _norm_ext(df[f.name], f.dataType).alias(f.name)
            for f in df.schema.fields
        ]
    )


def _norm_ext(col: Column, dtype) -> Column:
    from pyspark.sql.types import StructType as _St

    if isinstance(dtype, _St):
        names = sorted(f.name for f in dtype.fields)
        if names == ["$oid"]:
            return col.getField("$oid").cast("string")
        if names == ["$date"]:
            inner = next(f for f in dtype.fields if f.name == "$date")
            if isinstance(inner.dataType, _St):  # {"$date":{"$numberLong": ms}}
                ms = col.getField("$date").getField("$numberLong").cast("long")
                return F.timestamp_millis(ms)
            return col.getField("$date").cast("timestamp")
        if names == ["$numberLong"]:
            return col.getField("$numberLong").cast("long")
        if names == ["$numberInt"]:
            return col.getField("$numberInt").cast("int")
        if names == ["$numberDouble"]:
            return col.getField("$numberDouble").cast("double")
        if names == ["$numberDecimal"]:
            return col.getField("$numberDecimal").cast("decimal(38,10)")
        # NULL-preserving generic rebuild: F.struct alone would turn a
        # NULL nested document into a non-null all-null struct, flipping
        # downstream isNull() semantics vs the reference's missing field
        rebuilt = F.struct(
            *[
                _norm_ext(col.getField(f.name), f.dataType).alias(f.name)
                for f in dtype.fields
            ]
        )
        return F.when(col.isNull(), F.lit(None)).otherwise(rebuilt)
    if isinstance(dtype, ArrayType):
        return F.transform(col, lambda x: _norm_ext(x, dtype.elementType))
    return col
