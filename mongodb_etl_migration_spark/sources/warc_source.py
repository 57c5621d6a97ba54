"""``warc`` — a PySpark 4 Python DataSource reading WARC crawl shards
(.warc and .warc.gz files) from a path, glob, or directory.

The column-based ``warc.explode_warc`` operator requires a whole shard
to arrive as one in-row bytes value — a row/Arrow hazard once shards
are crawl-sized. This source closes that gap: records stream out of
the FILE one at a time (``iter_warc_stream`` holds one record in
memory), explode inside the scan stage, and the HTTP layer is
unwrapped exactly as in explode_warc, so a WARC → extract → curate
pipeline's only shuffle is whatever the downstream curation needs.

    from mongodb_etl_migration_spark.sources.warc_source import (
        register_warc)
    register_warc(spark)
    df = spark.read.format("warc").load("/crawl/shards/")

``.warc.gz`` files are read through gzip.GzipFile, which decompresses
the Common Crawl per-record-gzip-member layout (and whole-file gzip)
transparently.

Scale notes: one InputPartition per file (files.py: WARC records are
Content-Length-framed with no sync markers and gzip members can only
be found by scanning); crawl corpora are naturally many ~1 GB shards,
which is the parallelism unit.
The reader accepts no pushed filters: Spark 4.1 caches one reader per
loaded frame, so a pushed filter would leak into every other scan of
that frame (a later unfiltered query, or the other side of a union).
Predicates such as warc_type = 'response' run in Spark's own Filter
over the scanned rows.

Options: ``path``, ``mode`` (FAILFAST default | PERMISSIVE —
keep each file's valid prefix past a corrupt record/gzip member and
emit a ``_corrupt_record`` marker row for dead-letter routing),
``with_bytes`` (true appends a ``body_bytes`` binary column carrying
the raw undecoded payload — the byte-exact path for binary response
bodies such as images/gzip; off by default so text pipelines don't
ship every payload twice).
"""

from __future__ import annotations

import zlib

from pyspark.sql.datasource import DataSource
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mongodb_etl_migration_spark.sources.files import (
    CORRUPT_COL,
    DirectoryTailReader,
    FilePartition,
    FileReader,
    PartFileWriter,
)
from mongodb_etl_migration_spark.sources.warc import (
    build_warc_gz,
    iter_warc_stream,
    unwrap_http,
)

WARC_SOURCE_FIELDS = [
    StructField("path", StringType()),
    StructField("record_idx", LongType()),
    StructField("warc_type", StringType()),
    StructField("target_uri", StringType()),
    StructField("date", StringType()),
    StructField("http_status", LongType()),
    StructField("content_type", StringType()),
    StructField("body", StringType()),
]


def _open_stream(path: str):
    if path.endswith(".gz"):
        import gzip

        return gzip.open(path, "rb")
    return open(path, "rb")


class WarcReader(FileReader):
    patterns = ("*.warc", "*.warc.gz")

    def read(self, partition: FilePartition):
        """One record at a time off the (possibly gzip) stream; HTTP
        unwrap per response payload (non-HTTP payloads keep NULL
        status and carry their bytes utf-8-replace-decoded as body —
        identical semantics to warc.explode_warc). FAILFAST: a framing
        error or corrupt gzip member fails the task with the file
        named. PERMISSIVE: the file's valid prefix is kept (framing
        has no sync markers to resynchronize on) and, when the schema
        carries ``_corrupt_record``, one marker row records the file
        and how many records survived — a corrupt member costs its
        file's tail, never the job."""
        fields = self._schema.fields
        names = [f.name for f in fields]
        stream = _open_stream(partition.path)
        n_ok = 0
        try:
            it = iter_warc_stream(stream)
            while True:
                try:
                    rec = next(it)
                except StopIteration:
                    break
                except (ValueError, EOFError, OSError, zlib.error) as err:
                    if self._mode == "FAILFAST":
                        raise ValueError(
                            f"{partition.path}: {err} (mode=PERMISSIVE "
                            "keeps the valid prefix)"
                        ) from err
                    if CORRUPT_COL in names:
                        row = dict.fromkeys(names)
                        row["path"] = partition.path
                        row[CORRUPT_COL] = (
                            f"{partition.path}: {err} after {n_ok} records"
                        )
                        yield tuple(row[n] for n in names)
                    break
                http_status, content_type, raw = unwrap_http(rec["payload"])
                row = {
                    "path": partition.path,
                    "record_idx": n_ok,
                    "warc_type": rec["warc_type"],
                    "target_uri": rec["target_uri"],
                    "date": rec["date"],
                    "http_status": http_status,
                    "content_type": content_type,
                    "body": raw.decode("utf-8", "replace"),
                    "body_bytes": raw,
                    CORRUPT_COL: None,
                }
                n_ok += 1
                yield tuple(row[n] for n in names)
        finally:
            stream.close()


class WarcDataSource(DataSource):
    """See module docstring. Options: ``path`` (file, glob, or
    directory of .warc/.warc.gz), ``mode`` (FAILFAST|PERMISSIVE;
    PERMISSIVE appends a ``_corrupt_record`` marker column)."""

    @classmethod
    def name(cls) -> str:
        return "warc"

    def schema(self) -> StructType:
        fields = list(WARC_SOURCE_FIELDS)
        if self.options.get("with_bytes", "false").lower() == "true":
            fields.append(StructField("body_bytes", BinaryType()))
        if self.options.get("mode", "FAILFAST").upper() == "PERMISSIVE":
            fields.append(StructField(CORRUPT_COL, StringType()))
        return StructType(fields)

    def reader(self, schema: StructType) -> WarcReader:
        return WarcReader(schema, self.options)

    def simpleStreamReader(self, schema: StructType) -> DirectoryTailReader:
        """Streaming tail of a crawl directory (readStream.format
        ("warc")): each dropped shard ingested exactly once."""
        return DirectoryTailReader(WarcReader, schema, self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return WarcWriter(schema, self.options, overwrite)


class WarcWriter(PartFileWriter):
    """Export a curated corpus as ``.warc.gz`` shards — the read/
    stream/write triangle closed (a curation pipeline that ingests
    Common-Crawl shards hands its survivors downstream in the same
    container). One per-record-gzip-member shard per task, STREAMED
    record by record to a temp file (O(1) memory — the write-side
    twin of iter_warc_stream's one-record-in-memory rule; a 1 GB
    partition must never buffer whole) and renamed into place only in
    commit() (files.PartFileWriter) — partial or aborted tasks never
    leave a readable shard behind. Rows follow the reader's schema
    contract: ``warc_type``/``target_uri``/``date`` headers (empty/NULL
    values pass through — no fabricated metadata), and rows with a
    non-NULL ``http_status`` are wrapped as HTTP/1.1 responses
    (content_type + payload); rows with NULL status carry the payload
    raw. Payload source: a non-NULL ``body_bytes`` binary column wins
    (byte-exact — pair with the reader's ``with_bytes`` option and
    read→write→read is identity for ANY payload, binary included);
    otherwise the ``body`` string is UTF-8 encoded — that path's
    round-trip identity holds only for valid-UTF-8 text bodies, since
    the reader's utf-8/replace decode is lossy on binary."""

    suffix = ".warc.gz"

    def encode(self, row) -> bytes:
        d = row.asDict()
        rec = {
            "warc_type": d.get("warc_type") or "",
            "target_uri": d.get("target_uri") or "",
            # '' omits the WARC-Date header (see build_warc)
            "date": d.get("date") or "",
        }
        if d.get("body_bytes") is not None:
            body = bytes(d["body_bytes"])
        else:
            body = (d.get("body") or "").encode()
        if d.get("http_status") is not None:
            rec["http"] = (
                int(d["http_status"]),
                d.get("content_type") or "",
                body,
            )
        else:
            rec["payload"] = body
        return build_warc_gz([rec])


def register_warc(spark) -> None:
    """Register the source on a session (idempotent)."""
    spark.dataSource.register(WarcDataSource)
