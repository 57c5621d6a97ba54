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

Scale notes: one InputPartition per file — WARC records are
Content-Length-framed with no sync markers and gzip members can only
be found by scanning, so a mid-file split cannot locate a record
boundary; crawl corpora are naturally many ~1 GB shards, which is the
parallelism unit (same rationale as mongodump_source for .bson).
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

import glob
import os
import zlib

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from mongodb_etl_migration_spark.sources.warc import (
    iter_warc_stream,
    parse_http_response,
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


def _resolve_warc_files(path: str) -> list[str]:
    if os.path.isdir(path):
        files = sorted(
            glob.glob(os.path.join(path, "*.warc"))
            + glob.glob(os.path.join(path, "*.warc.gz"))
        )
    else:
        files = sorted(glob.glob(path))
    if not files:
        raise FileNotFoundError(f"no .warc[.gz] files under {path!r}")
    return files


def _open_stream(path: str):
    if path.endswith(".gz"):
        import gzip

        return gzip.open(path, "rb")
    return open(path, "rb")


class _WarcFilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class WarcReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._files = _resolve_warc_files(options["path"])
        self._mode = options.get("mode", "FAILFAST").upper()
        if self._mode not in ("FAILFAST", "PERMISSIVE"):
            raise ValueError(
                f"mode must be FAILFAST|PERMISSIVE, got {self._mode}"
            )

    def partitions(self):
        return [_WarcFilePartition(p) for p in self._files]

    def read(self, partition: _WarcFilePartition):
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
                    if "_corrupt_record" in names:
                        row = dict.fromkeys(names)
                        row["path"] = partition.path
                        row["_corrupt_record"] = (
                            f"{partition.path}: {err} after {n_ok} records"
                        )
                        yield tuple(row[n] for n in names)
                    break
                try:
                    status, ctype, body = parse_http_response(rec["payload"])
                    http_status: int | None = status
                    content_type: str | None = ctype
                    raw = body
                except ValueError:
                    http_status = None
                    content_type = None
                    raw = rec["payload"]
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
                    "_corrupt_record": None,
                }
                n_ok += 1
                yield tuple(row[n] for n in names)
        finally:
            stream.close()


class WarcStreamReader(SimpleDataSourceStreamReader):
    """Tail a crawl directory as a stream: every NEW .warc/.warc.gz
    shard becomes part of the next microbatch — the crawler-drops-
    shards → curation-ingests-each-once pattern. Offset bookkeeping is
    the mongodump stream's proven shape: ``{"seen": [basenames]}``, a
    batch is listing MINUS seen, so late-arriving shards that sort
    before already-emitted names are still picked up exactly once and
    ``readBetweenOffsets`` replays any batch as end.seen − start.seen
    (shards are immutable once written). The seen list grows with the
    number of drops — bounded for the crawl-drop pattern."""

    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._path = options["path"]
        self._mode = options.get("mode", "FAILFAST").upper()

    def _files(self) -> list[str]:
        try:
            return _resolve_warc_files(self._path)
        except FileNotFoundError:
            return []  # empty dir: stream starts before the first drop

    def initialOffset(self) -> dict:
        return {"seen": []}

    def read(self, start: dict):
        files = self._files()
        seen = set(start.get("seen", []))
        new = [p for p in files if os.path.basename(p) not in seen]
        end = {"seen": sorted(seen | {os.path.basename(p) for p in new})}
        # materialized THEN wrapped in iter(): the simple-reader API
        # prefetches and pickles the batch on the driver (per-drop
        # batches are a few shards — bounded; a firehose needs the
        # full streamReader API), and its empty-poll validation calls
        # next() on the result — a bare list TypeErrors the query
        return iter(list(self._rows(new))), end

    def readBetweenOffsets(self, start: dict, end: dict):
        batch = set(end.get("seen", [])) - set(start.get("seen", []))
        files = [
            p for p in self._files() if os.path.basename(p) in batch
        ]
        # iterator, not list: this return IS the task's row iterator
        # (replay path and uncached empty batches hit it directly)
        return iter(list(self._rows(files)))

    def _rows(self, files: list[str]):
        if not files:
            # constructing WarcReader resolves the path eagerly and
            # raises on a not-yet-populated directory — an empty poll
            # must stay an empty batch (stream starts before the
            # first crawler drop)
            return
        reader = WarcReader(
            self._schema, {"path": self._path, "mode": self._mode}
        )
        for path in files:
            yield from reader.read(_WarcFilePartition(path))


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
            fields.append(StructField("_corrupt_record", StringType()))
        return StructType(fields)

    def reader(self, schema: StructType) -> WarcReader:
        return WarcReader(schema, self.options)

    def simpleStreamReader(self, schema: StructType) -> WarcStreamReader:
        """Streaming tail of a crawl directory (readStream.format
        ("warc")): each dropped shard ingested exactly once."""
        return WarcStreamReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return WarcWriter(schema, self.options, overwrite)


class _WroteShard(WriterCommitMessage):
    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


class WarcWriter(DataSourceWriter):
    """Export a curated corpus as ``.warc.gz`` shards — the read/
    stream/write triangle closed (a curation pipeline that ingests
    Common-Crawl shards hands its survivors downstream in the same
    container). One per-record-gzip-member shard per task, STREAMED
    record by record to a temp file (O(1) memory — the write-side
    twin of iter_warc_stream's one-record-in-memory rule; a 1 GB
    partition must never buffer whole) and renamed into place only in
    commit() via the shared rename protocol (mongodump_source.
    commit_part_renames) — partial or aborted tasks never leave a
    readable shard behind. Rows follow the reader's schema contract:
    ``warc_type``/``target_uri``/``date`` headers (empty/NULL values
    pass through — no fabricated metadata), and rows with a non-NULL
    ``http_status`` are wrapped as HTTP/1.1 responses (content_type +
    payload); rows with NULL status carry the payload raw. Payload
    source: a non-NULL ``body_bytes`` binary column wins (byte-exact —
    pair with the reader's ``with_bytes`` option and read→write→read
    is identity for ANY payload, binary included); otherwise the
    ``body`` string is UTF-8 encoded — that path's round-trip identity
    holds only for valid-UTF-8 text bodies, since the reader's
    utf-8/replace decode is lossy on binary."""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self._path = options["path"]
        self._overwrite = overwrite

    def write(self, iterator) -> _WroteShard:
        import gzip
        import uuid

        from mongodb_etl_migration_spark.sources.warc import build_warc

        os.makedirs(self._path, exist_ok=True)
        tmp = os.path.join(self._path, f"._tmp-{uuid.uuid4().hex}")
        n = 0
        with open(tmp, "wb") as f:
            for row in iterator:
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
                f.write(gzip.compress(build_warc([rec]), mtime=0))
                n += 1
        return _WroteShard(tmp, n)

    def commit(self, messages) -> None:
        from mongodb_etl_migration_spark.sources.mongodump_source import (
            commit_part_renames,
        )

        commit_part_renames(messages, self._path, ".warc.gz", self._overwrite)

    def abort(self, messages) -> None:
        from mongodb_etl_migration_spark.sources.mongodump_source import (
            abort_part_cleanup,
        )

        abort_part_cleanup(messages)


def register_warc(spark) -> None:
    """Register the source on a session (idempotent)."""
    spark.dataSource.register(WarcDataSource)
