"""The skeleton shared by the file-per-partition Python data sources
(``mongodump`` .bson backups, ``warc`` crawl shards): path
resolution, one InputPartition per file, the batch reader's mode
contract, the directory-tail stream reader and the rename-in-commit
part-file writer. Each format supplies only its glob patterns, its
per-file ``read`` and its per-row encoding.

One partition per file: neither format has sync markers (BSON is
length-prefixed, WARC is Content-Length-framed inside gzip members),
so a mid-file split cannot find a record boundary; the file is the
parallelism unit.
"""

from __future__ import annotations

import glob
import os
import uuid

from pyspark.sql.datasource import (
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

# PERMISSIVE dead-letter column: readers fill it on a marker row that
# names the file and the undecodable tail, JSONL with the raw line
CORRUPT_COL = "_corrupt_record"


def resolve_files(path: str, patterns: tuple[str, ...]) -> list[str]:
    """A directory gives the sorted union of its ``patterns`` globs;
    anything else is itself a glob. No match raises."""
    if os.path.isdir(path):
        files = sorted(
            {f for p in patterns for f in glob.glob(os.path.join(path, p))}
        )
    else:
        files = sorted(glob.glob(path))
    if not files:
        raise FileNotFoundError(f"no {' or '.join(patterns)} files under {path!r}")
    return files


class FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class FileReader(DataSourceReader):
    """Batch reader over ``options["path"]``: one partition per file.
    Subclasses set ``patterns`` and implement ``read(partition)``.
    Deliberately no ``pushFilters``: Spark 4.1 refuses a reader that
    defines it unless ``spark.sql.python.filterPushdown.enabled`` is
    on, so only a source that sets that conf may add one."""

    patterns: tuple[str, ...] = ()

    def __init__(self, schema: StructType, options: dict):
        self._schema = schema
        self._files = resolve_files(options["path"], self.patterns)
        self._mode = options.get("mode", "FAILFAST").upper()
        if self._mode not in ("FAILFAST", "PERMISSIVE"):
            raise ValueError(f"mode must be FAILFAST|PERMISSIVE, got {self._mode}")

    def partitions(self):
        return [FilePartition(p) for p in self._files]


class DirectoryTailReader(SimpleDataSourceStreamReader):
    """Tail a directory as a stream: every NEW file becomes part of
    the next microbatch, read by the format's batch ``reader`` class.
    The offset is ``{"seen": [basenames]}``, the exact files already
    emitted; a batch is the listing MINUS the seen set, so a late file
    that sorts before already-emitted names (dump-10 after dump-2) is
    still read exactly once, and ``readBetweenOffsets`` replays any
    batch as end.seen − start.seen (files are immutable once written).
    The seen list grows with the number of drops: bounded for the
    backup-drop and crawl-drop patterns; compact externally if a
    directory accretes forever."""

    def __init__(self, reader: type[FileReader], schema: StructType, options: dict):
        self._reader = reader
        self._schema = schema
        self._path = options["path"]
        self._mode = options.get("mode", "FAILFAST").upper()

    def _files(self) -> list[str]:
        try:
            return resolve_files(self._path, self._reader.patterns)
        except FileNotFoundError:
            return []  # empty dir: the stream starts before the first drop

    def initialOffset(self) -> dict:
        return {"seen": []}

    @staticmethod
    def _seen(offset: dict, files: list[str]) -> set:
        """The earlier count-based ``{"files": n}`` offset converts to
        the first n sorted basenames of the current listing, so a
        checkpoint written in that form restarts instead of
        KeyError-wedging the stream."""
        if "seen" in offset:
            return set(offset["seen"])
        n = int(offset.get("files", 0))
        return {os.path.basename(p) for p in files[:n]}

    def read(self, start: dict):
        files = self._files()
        seen = self._seen(start, files)
        new = [p for p in files if os.path.basename(p) not in seen]
        end = {"seen": sorted(seen | {os.path.basename(p) for p in new})}
        # materialized THEN wrapped in iter(): the simple-reader API
        # prefetches and PICKLES the batch on the driver (a drop is a
        # few files, bounded; use the full streamReader API if one
        # drop outgrows driver memory), and its empty-poll validation
        # calls next() on the result, so a bare list TypeErrors the
        # query on a no-new-files poll
        return iter(list(self._rows(new))), end

    def readBetweenOffsets(self, start: dict, end: dict):
        files = self._files()
        batch = self._seen(end, files) - self._seen(start, files)
        # iterator, not list: this return IS the task's row iterator
        # (replay path and uncached empty batches hit it directly)
        return iter(list(self._rows(
            [p for p in files if os.path.basename(p) in batch]
        )))

    def _rows(self, files: list[str]):
        if not files:
            # constructing the batch reader resolves the path eagerly
            # and raises on a not-yet-populated directory: an empty
            # poll must stay an empty batch
            return
        reader = self._reader(self._schema, {"path": self._path, "mode": self._mode})
        for path in files:
            yield from reader.read(FilePartition(path))


class PartFile(WriterCommitMessage):
    def __init__(self, path: str, rows: int):
        self.path = path
        self.rows = rows


class PartFileWriter(DataSourceWriter):
    """One part file per task, written to a temp name and renamed into
    place only in commit(): partial or aborted tasks never leave a
    readable part behind (the rename is the commit protocol, the idea
    of Hadoop output committers). Subclasses set ``suffix`` and
    ``encode(row) -> bytes``; rows stream to the file one at a time."""

    suffix = ""

    def __init__(self, schema: StructType, options: dict, overwrite: bool):
        self._path = options["path"]
        self._overwrite = overwrite

    def encode(self, row) -> bytes:
        raise NotImplementedError

    def write(self, iterator) -> PartFile:
        os.makedirs(self._path, exist_ok=True)
        tmp = os.path.join(self._path, f"._tmp-{uuid.uuid4().hex}")
        n = 0
        with open(tmp, "wb") as f:
            for row in iterator:
                f.write(self.encode(row))
                n += 1
        return PartFile(tmp, n)

    def commit(self, messages) -> None:
        """Temp files become ``part-NNNNN-<job>{suffix}``. The
        job-unique suffix keeps append mode from renaming onto an
        existing file (os.rename clobbers silently on POSIX).
        Overwrite mode also sweeps crashed PRIOR jobs' ``._tmp-*``
        leftovers (their abort() never ran), excluding this job's
        own pending messages."""
        live = [m for m in messages if m is not None]
        if self._overwrite:
            for old in glob.glob(os.path.join(self._path, f"part-*{self.suffix}")):
                os.remove(old)
            keep = {m.path for m in live}
            for tmp in glob.glob(os.path.join(self._path, "._tmp-*")):
                if tmp not in keep:
                    os.remove(tmp)
        job = uuid.uuid4().hex[:8]
        for i, m in enumerate(live):
            if m.rows == 0:
                os.remove(m.path)
                continue
            os.rename(
                m.path, os.path.join(self._path, f"part-{i:05d}-{job}{self.suffix}")
            )

    def abort(self, messages) -> None:
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)
