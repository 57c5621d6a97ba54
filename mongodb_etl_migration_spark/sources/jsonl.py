"""JSONL (JSON Lines) ingest/export — the lingua franca of training-
data interchange (C4/FineWeb/RedPajama dumps ship as *.jsonl.gz, and
every open-source curation stack reads and writes it).

Spark-first: both directions are the built-in JVM readers/writers —
no Python hop anywhere.

- ``read_jsonl`` is a SCHEMA'D ``spark.read.json`` (never schema
  inference, which would buy a full extra pass over 100 TB just to
  guess what the contract already says) with PERMISSIVE corrupt-line
  capture: a malformed line yields NULL parsed columns plus the raw
  line in the corrupt column — the curation stack's
  count-don't-crash convention. Gzip shards decompress transparently
  (one task per .gz file — whole-file gzip is unsplittable, the same
  documented layout bound as WARC shards: shard sizes ARE the
  parallelism knob).
- ``write_jsonl`` serializes through ``to_json(struct(*))`` into the
  text writer (one JSON object per line), optionally gzip-compressed
  per part file.

Reference parity: the reference engine has no JSONL surface (its
sources are Mongo/PG/Cassandra, SURVEY.md §2.1); this module is part
of the training-pipeline extension set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from mongodb_etl_migration_spark.sources.files import CORRUPT_COL


def _with_corrupt_col(schema: StructType) -> StructType:
    """``schema`` plus the PERMISSIVE corrupt-record column (a copy:
    the caller's StructType is not mutated)."""
    if CORRUPT_COL in schema.fieldNames():
        raise ValueError(f"schema already contains {CORRUPT_COL!r}")
    return StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType())]
    )


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
    full = _with_corrupt_col(schema)
    return (
        spark.read.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .json(path)
    )


def read_jsonl_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming twin of ``read_jsonl`` — a directory TAIL over
    landing JSONL shards (the continuous-ingestion shape: a crawler
    drops *.jsonl.gz files, the engine picks each up exactly once via
    checkpointed file tracking). Same explicit schema + PERMISSIVE
    corrupt capture as the batch reader, so batch backfill and the
    tail produce identical rows per file. ``max_files_per_trigger``
    bounds per-microbatch work (source-side backpressure)."""
    full = _with_corrupt_col(schema)
    reader = (
        spark.readStream.schema(full)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", int(max_files_per_trigger))
    return reader.json(path)


def write_jsonl(
    df: DataFrame,
    path: str,
    compression: str | None = None,
    mode: str = "overwrite",
    keep_nulls: bool = True,
) -> None:
    """Write ``df`` as JSON Lines: one ``to_json(struct(*cols))``
    object per line through the text writer (pure JVM, one part file
    per task; pass ``compression='gzip'`` for *.txt.gz parts —
    remember whole-file gzip is unsplittable on read).

    ``keep_nulls=True`` (default) writes explicit ``"field": null``
    members (``ignoreNullFields=false``) — byte-faithful interchange
    with ``json.dumps``-style producers. With ``keep_nulls=False``
    NULL fields are OMITTED from each line (Spark ``to_json``'s own
    default) — smaller output, still value-lossless when re-read
    through ``read_jsonl``'s explicit schema (absent = NULL), but not
    line-identical to a null-keeping dump."""
    out = df.select(
        F.to_json(
            F.struct(*df.columns),
            {"ignoreNullFields": "false" if keep_nulls else "true"},
        ).alias("value")
    )
    writer = out.write.mode(mode)
    if compression:
        writer = writer.option("compression", compression)
    writer.text(path)
