"""``mongodump`` — a PySpark 4 Python DataSource reading MongoDB
backup collection files (concatenated BSON documents) directly.

The reference's ingest path is mongorestore → live MongoDB → Python
extractor (run_etl.py, etl/extractors/mongo_extractor.py); this source
collapses that to one Spark-native scan over the backup directory:

    from mongodb_etl_migration_spark.sources.mongodump_source import (
        register_mongodump)
    register_mongodump(spark)
    df = (spark.read.format("mongodump")
          .option("path", "/backups/appdb/rooms.bson").load())

Decoded values follow the same conventions as
``readers.normalize_extended_json`` (ObjectId → hex string, datetime →
timestamp, decimal128 → raw hex), so downstream entity specs see one
shape regardless of whether data arrived via parquet, extended JSON,
or raw BSON.

Scale notes: one InputPartition per .bson file (files.py: BSON has no
sync markers); mongodump output is naturally many per-collection
files, which is the parallelism unit (matches how Spark treats gzipped
JSON). Schema inference samples the first ``inferDocs`` documents of
the lexically-first file (explicit ``.schema(...)`` skips the sampling
read — the right call at 100 TB).
The per-row Python decode cost is the honest price of the format; the
intended pattern is one ingest pass that lands parquet, not repeated
analytics over raw BSON.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql.datasource import DataSource
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    LongType,
    NullType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from mongodb_etl_migration_spark.sources.bson_codec import (
    decode_document,
    encode_document,
    iter_documents,
)
from mongodb_etl_migration_spark.sources.files import (
    CORRUPT_COL,
    DirectoryTailReader,
    FilePartition,
    FileReader,
    PartFileWriter,
    resolve_files,
)


def _infer_type(v) -> DataType:
    if isinstance(v, bool):
        return BooleanType()
    if isinstance(v, int):
        return LongType()
    if isinstance(v, float):
        return DoubleType()
    if isinstance(v, str):
        return StringType()
    if isinstance(v, bytes):
        return BinaryType()
    if isinstance(v, datetime):
        return TimestampType()
    if isinstance(v, list):
        elem: DataType = NullType()
        for x in v:
            t = _infer_type(x)
            if not isinstance(t, NullType):
                elem = t
                break
        return ArrayType(elem if not isinstance(elem, NullType) else StringType())
    if isinstance(v, dict):
        return _infer_struct([v])
    return StringType()


def _infer_struct(docs: list[dict]) -> StructType:
    """Union of keys over the sample, first non-null value types a
    field; never-non-null fields fall back to string."""
    order: list[str] = []
    types: dict[str, DataType] = {}
    for d in docs:
        for k, v in d.items():
            if k not in types:
                order.append(k)
                types[k] = NullType()
            if isinstance(types[k], NullType) and v is not None:
                types[k] = _infer_type(v)
    return StructType(
        [
            StructField(
                k,
                types[k] if not isinstance(types[k], NullType) else StringType(),
            )
            for k in order
        ]
    )


def _project(v, dtype: DataType):
    """Shape a decoded Python value to the schema type (dict→tuple for
    structs, element-wise for arrays); mismatches become None rather
    than failing the scan (PERMISSIVE, like the JSON reader)."""
    if v is None:
        return None
    if isinstance(dtype, StructType):
        if not isinstance(v, dict):
            return None
        return tuple(_project(v.get(f.name), f.dataType) for f in dtype.fields)
    if isinstance(dtype, ArrayType):
        if not isinstance(v, list):
            return None
        return [_project(x, dtype.elementType) for x in v]
    if isinstance(dtype, TimestampType):
        return v if isinstance(v, datetime) else None
    if isinstance(dtype, DateType):  # stored as UTC-midnight datetime
        return v.date() if isinstance(v, datetime) else None
    if isinstance(dtype, BooleanType):
        return v if isinstance(v, bool) else None
    if isinstance(dtype, LongType):
        return v if isinstance(v, int) and not isinstance(v, bool) else None
    if isinstance(dtype, DoubleType):
        if isinstance(v, float):
            return v
        return float(v) if isinstance(v, int) and not isinstance(v, bool) else None
    if isinstance(dtype, BinaryType):
        return v if isinstance(v, (bytes, bytearray)) else None
    if isinstance(dtype, StringType):
        return v if isinstance(v, str) else str(v)
    return None


def _filter_column(f) -> tuple | None:
    """Top-level column path of a pushable filter; None → unsupported."""
    from pyspark.sql.datasource import Not

    if isinstance(f, Not):
        return _filter_column(f.child)
    attr = getattr(f, "attribute", None)
    if attr is None or len(attr) != 1:  # nested paths stay Spark-side
        return None
    return attr


def _filter_supported(f) -> bool:
    from pyspark.sql.datasource import (
        EqualNullSafe,
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
        Not,
        StringContains,
        StringEndsWith,
        StringStartsWith,
    )

    if isinstance(f, Not):
        return _filter_supported(f.child)
    return _filter_column(f) is not None and isinstance(
        f,
        (
            EqualTo, EqualNullSafe, In,
            GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual,
            IsNull, IsNotNull,
            StringStartsWith, StringEndsWith, StringContains,
        ),
    )


def _eval_filter(f, doc: dict):
    """SQL three-valued evaluation over a decoded document: True /
    False / None (unknown — NULL operand). A row survives only on
    True; Not flips True/False and preserves None, exactly the SQL
    rule that lets accepted filters be enforced here without Spark
    re-checking them."""
    from pyspark.sql.datasource import (
        EqualNullSafe,
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
        Not,
        StringContains,
        StringEndsWith,
        StringStartsWith,
    )

    if isinstance(f, Not):
        inner = _eval_filter(f.child, doc)
        return None if inner is None else not inner
    v = doc.get(_filter_column(f)[0])
    if isinstance(f, IsNull):
        return v is None
    if isinstance(f, IsNotNull):
        return v is not None
    if isinstance(f, EqualNullSafe):
        return v == f.value if v is not None and f.value is not None else (
            v is None and f.value is None
        )
    if v is None or getattr(f, "value", None) is None:
        return None
    try:
        if isinstance(f, EqualTo):
            return v == f.value
        if isinstance(f, In):
            vals = [x for x in f.value if x is not None]
            if v in vals:
                return True
            return None if len(vals) != len(f.value) else False
        if isinstance(f, GreaterThan):
            return v > f.value
        if isinstance(f, GreaterThanOrEqual):
            return v >= f.value
        if isinstance(f, LessThan):
            return v < f.value
        if isinstance(f, LessThanOrEqual):
            return v <= f.value
        if isinstance(f, StringStartsWith):
            return isinstance(v, str) and v.startswith(f.value)
        if isinstance(f, StringEndsWith):
            return isinstance(v, str) and v.endswith(f.value)
        if isinstance(f, StringContains):
            return isinstance(v, str) and f.value in v
    except TypeError:  # incomparable types: unknown, not a crash
        return None
    return None


class MongodumpReader(FileReader):
    patterns = ("*.bson",)

    def __init__(self, schema: StructType, options: dict):
        super().__init__(schema, options)
        self._filters: list = []

    def pushFilters(self, filters):
        """Accept top-level-column filters this reader can evaluate
        EXACTLY on decoded values (Spark does not re-apply accepted
        filters, so anything uncertain is handed back): equality, In,
        comparisons, null checks, string prefix/suffix/contains, and
        Not over those. Pushing matters twice here: non-matching
        documents are dropped BEFORE the Python->JVM row transfer
        (the scan's dominant cost), and filter columns join the
        field-skip 'wanted' set so rejected docs only ever decode the
        filtered fields."""
        for f in filters:
            if _filter_supported(f):
                self._filters.append(f)
            else:
                yield f

    def read(self, partition: FilePartition):
        """FAILFAST (default): a malformed document fails the task —
        right for audited ingest. PERMISSIVE: decoding stops at the
        first malformed byte of THE FILE (BSON has no sync markers to
        resynchronize on, so everything after a corrupt length prefix
        is unreadable); the valid prefix is kept and, when the schema
        carries a ``_corrupt_record string`` field (same contract as
        jsonl.read_jsonl), one extra row records the file
        and undecodable byte count for dead-letter routing — a corrupt
        tail costs its file's remainder, never the 100 TB job."""
        with open(partition.path, "rb") as f:
            buf = f.read()
        fields = self._schema.fields
        corrupt_idx = next(
            (i for i, f in enumerate(fields) if f.name == CORRUPT_COL),
            None,
        )
        # field-skip pruning: decode only projected + filtered fields
        filter_cols = {_filter_column(f)[0] for f in self._filters}
        types = {f.name: f.dataType for f in fields}
        wanted = frozenset({f.name for f in fields} | filter_cols)
        pos = 0
        while pos < len(buf):
            try:
                doc, pos = decode_document(buf, pos, wanted)
            except (ValueError, IndexError, UnicodeDecodeError) as err:
                if self._mode == "FAILFAST":
                    raise ValueError(
                        f"{partition.path}: {err} (mode=PERMISSIVE keeps "
                        "the valid prefix)"
                    ) from err
                if corrupt_idx is not None:
                    row = [None] * len(fields)
                    row[corrupt_idx] = (
                        f"{partition.path}: undecodable tail of "
                        f"{len(buf) - pos} bytes at offset {pos}"
                    )
                    # the marker row passes the same filter gate as any
                    # row (accepted filters are NOT re-applied by Spark;
                    # an IsNotNull predicate must not leak an all-NULL
                    # marker into the result)
                    marker = dict(zip([f.name for f in fields], row))
                    if all(
                        _eval_filter(f, marker) is True
                        for f in self._filters
                    ):
                        yield tuple(row)
                return
            # filters evaluate on the PROJECTED (schema-typed) values,
            # not raw decoded BSON: a mixed-type field projects int 5
            # to "5" under a string schema, and EqualTo(col, "5") must
            # see what Spark will see — accepted filters are enforced
            # here exactly once. Project the FILTER columns first so a
            # rejected document never pays the full-schema projection.
            proj = {
                c: _project(doc.get(c), types[c]) for c in filter_cols
            }
            if not all(_eval_filter(f, proj) is True for f in self._filters):
                continue
            yield tuple(
                proj[f.name]
                if f.name in proj
                else _project(doc.get(f.name), f.dataType)
                for f in fields
            )


class MongodumpDataSource(DataSource):
    """See module docstring. Options: ``path`` (file, glob, or
    directory of .bson), ``inferDocs`` (sample size, default 100)."""

    @classmethod
    def name(cls) -> str:
        return "mongodump"

    def schema(self) -> StructType:
        files = resolve_files(self.options["path"], MongodumpReader.patterns)
        limit = int(self.options.get("inferDocs", "100"))
        with open(files[0], "rb") as f:
            buf = f.read()
        sample = []
        for doc in iter_documents(buf):
            sample.append(doc)
            if len(sample) >= limit:
                break
        if not sample:
            raise ValueError(f"cannot infer schema: {files[0]!r} is empty")
        return _infer_struct(sample)

    def reader(self, schema: StructType) -> MongodumpReader:
        return MongodumpReader(schema, self.options)

    def writer(self, schema: StructType, overwrite: bool):
        return MongodumpWriter(schema, self.options, overwrite)

    def simpleStreamReader(self, schema: StructType) -> DirectoryTailReader:
        """Streaming tail of the dump directory: periodic backup drops
        land there and each is ingested once, the reference's
        restore-then-re-extract loop as an incremental pipeline (pass
        an explicit ``.schema(...)``: inference on an initially-empty
        directory has nothing to sample)."""
        return DirectoryTailReader(MongodumpReader, schema, self.options)


class MongodumpWriter(PartFileWriter):
    """Export a DataFrame as a mongodump-shaped backup: one .bson part
    file per task through the rename-in-commit protocol. Values encode
    through the codec's conventions, so read-back through
    format("mongodump") round-trips (timestamps to millisecond
    precision, BSON's datetime unit)."""

    suffix = ".bson"

    def encode(self, row) -> bytes:
        return encode_document(row.asDict(recursive=True))


def register_mongodump(spark) -> None:
    """Register the source on a session (idempotent) and enable
    Python-data-source filter pushdown (off by default in Spark 4.1;
    runtime-settable)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(MongodumpDataSource)
