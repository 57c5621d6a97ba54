"""JSONL (JSON Lines) ingest — the lingua franca of training-data
interchange (C4/FineWeb/RedPajama dumps ship as *.jsonl.gz, and every
open-source curation stack reads and writes it).

Spark-first: the built-in JVM reader — no Python hop anywhere.

- ``read_jsonl`` is a SCHEMA'D ``spark.read.json`` (never schema
  inference, which would buy a full extra pass over 100 TB just to
  guess what the contract already says) with PERMISSIVE corrupt-line
  capture: a malformed line yields NULL parsed columns plus the raw
  line in the corrupt column — the curation stack's
  count-don't-crash convention. Gzip shards decompress transparently
  (one task per .gz file — whole-file gzip is unsplittable, the same
  documented layout bound as WARC shards: shard sizes ARE the
  parallelism knob).

Reference parity: the reference engine has no JSONL surface (its
sources are Mongo/PG/Cassandra, SURVEY.md §2.1); this module is part
of the training-pipeline extension set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from mongodb_etl_migration_spark.sources.files import CORRUPT_COL


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """Read JSONL (.jsonl / .jsonl.gz) at ``path`` with an explicit
    schema plus a PERMISSIVE ``_corrupt_record`` column. Lines that
    are valid JSON but MISSING a field parse with that field NULL (the
    schema-evolution convention); lines that are not valid JSON come
    back as (all parsed columns NULL, raw line in ``_corrupt_record``).

    Spark guard to know about: a query whose pruned column set is
    ONLY the corrupt column is disallowed on raw JSON
    (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — select at least one data
    column alongside it (or cache first) when counting corrupt
    lines."""
    if CORRUPT_COL in schema.fieldNames():
        raise ValueError(f"schema already contains {CORRUPT_COL!r}")
    full = StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType())]
    )
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


