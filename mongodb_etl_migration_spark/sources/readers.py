"""Mongo extended-JSON normalization: the shape that ``mongoexport``
output (and the reference's per-document serialize_document walk)
lands in, rewritten to plain typed columns at plan time.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType


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
    if isinstance(dtype, StructType):
        names = sorted(f.name for f in dtype.fields)
        if names == ["$oid"]:
            return col.getField("$oid").cast("string")
        if names == ["$date"]:
            inner = next(f for f in dtype.fields if f.name == "$date")
            if isinstance(inner.dataType, StructType):  # {"$date":{"$numberLong": ms}}
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
