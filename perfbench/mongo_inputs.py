"""Seeded mongodump inputs for the migration workload.

Reuses the ``fixtures.py`` collection recipes (field-name drift,
embedded-or-bare references, Salsa20-encrypted fileURLs, orphan
refs, materialised-path folders) at ``scale`` times their fixture
sizes and writes each collection as concatenated-BSON part files,
the layout ``format("mongodump")`` reads. Collections of at least
``LARGE_DOCS`` documents are split into ``n_parts`` files so the scan
has one partition per core. The seed chooses the document order and
which part file each document lands in; the documents themselves
depend only on ``scale``. Callers cache output directories by
``(scale, n_parts, seed)``.
"""

from __future__ import annotations

import json
import os
import shutil
from pathlib import Path

import numpy as np

from mongodb_etl_migration_spark import fixtures as FX
from mongodb_etl_migration_spark.sources.bson_codec import encode_document

LARGE_DOCS = 1000


class _RowCapture:
    """Stands in for a SparkSession: the fixture recipes end in
    ``spark.createDataFrame(rows, schema)``, which here returns the
    rows and schema unchanged so no JVM is needed."""

    def createDataFrame(self, rows, schema):  # noqa: N802 - Spark's name
        return rows, schema


def collections(scale: int) -> dict[str, tuple[list, object]]:
    """``name -> (rows, StructType)`` for all twelve source
    collections. Fact-like collections scale; the small lookup
    dimensions the recipes reference by fixed modulus keep their
    fixture size."""
    s = _RowCapture()
    n_users, n_rooms, n_channels = 120 * scale, 30 * scale, 10 * scale
    return {
        "roles": FX.roles_df(s),
        "provinces": FX.provinces_df(s),
        "municipalities": FX.municipalities_df(s),
        "parroquias": FX.parroquias_df(s, 24 * scale),
        "users": FX.users_df(s, n_users),
        "rooms": FX.rooms_df(s, n_rooms),
        "messages": FX.messages_df(s, 400 * scale, n_rooms, n_users),
        "roommembers": FX.members_df(s, n_rooms, n_users),
        "professions": FX.professions_df(s),
        "channels": FX.channels_df(s, n_channels, n_users),
        "lives": FX.lives_df(s, 20 * scale, n_channels),
        "docs": FX.docs_df(s, 30 * scale),
    }


def _as_doc(value, dtype):
    """Schema-guided tuple -> BSON-ready value (structs become
    sub-documents, arrays lists)."""
    from pyspark.sql import types as T

    if value is None:
        return None
    if isinstance(dtype, T.StructType):
        return {
            f.name: _as_doc(v, f.dataType) for f, v in zip(dtype.fields, value)
        }
    if isinstance(dtype, T.ArrayType):
        return [_as_doc(v, dtype.elementType) for v in value]
    return value


def encoded(scale: int, cache: Path) -> dict[str, list[bytes]]:
    """Every collection's documents as BSON byte strings in recipe
    order. Kept under ``cache`` (one concatenated file per
    collection), since the documents do not depend on the seed."""
    cache = Path(cache)
    if not cache.exists():
        tmp = cache.with_name(cache.name + f".tmp{os.getpid()}")
        tmp.mkdir(parents=True)
        for name, (rows, schema) in collections(scale).items():
            with open(tmp / f"{name}.bson", "wb") as f:
                f.writelines(encode_document(_as_doc(r, schema)) for r in rows)
        os.replace(tmp, cache)
    out = {}
    for path in sorted(cache.glob("*.bson")):
        buf = path.read_bytes()
        docs, pos = [], 0
        while pos < len(buf):
            n = int.from_bytes(buf[pos : pos + 4], "little")
            docs.append(buf[pos : pos + n])
            pos += n
        out[path.stem] = docs
    return out


def write_inputs(root: Path, docs: dict[str, list[bytes]], n_parts: int, seed: int) -> dict:
    """Materialise ``root/<collection>/part-NNNN.bson`` for one seed
    and return the manifest (doc counts and bytes per collection)."""
    root = Path(root)
    manifest_path = root / "manifest.json"
    if manifest_path.exists():
        return json.loads(manifest_path.read_text())
    rng = np.random.default_rng(seed)
    tmp = root.with_name(root.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    manifest = {"n_parts": n_parts, "seed": seed, "collections": {}}
    for name, blobs in sorted(docs.items()):
        parts = n_parts if len(blobs) >= LARGE_DOCS else 1
        order = rng.permutation(len(blobs))
        where = rng.integers(0, parts, len(blobs))
        (tmp / name).mkdir(parents=True)
        for p in range(parts):
            with open(tmp / name / f"part-{p:04d}.bson", "wb") as f:
                f.writelines(blobs[i] for i in order[where[order] == p])
        manifest["collections"][name] = {
            "docs": len(blobs),
            "bytes": sum(len(b) for b in blobs),
            "parts": parts,
        }
    (tmp / "manifest.json").write_text(json.dumps(manifest, indent=1))
    os.replace(tmp, root)
    return manifest


def schemas() -> dict:
    """The collection schemas (the same at every scale)."""
    return {name: schema for name, (_, schema) in collections(1).items()}
