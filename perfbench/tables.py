"""Seeded generator for the catalog's scale-factor tables.

Writes the ten tables ``Catalog`` reads (``region nation customer
supplier part orders lineitem events documents embeddings``) as one
parquet file each, one row group per file, with the schemas, key
ranges and value domains of the TPC-H-ish test data the catalog's
queries are written against. Row counts scale linearly with ``sf``
(sf0.1: 600k lineitem, 150k orders, 100k events, 5k documents, 2k
embeddings). Every value is a function of ``(seed, sf)``.
"""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "small", "red", "cold", "new"]
PART_NOUN = ["ring", "bolt", "plate", "nut", "gear", "pipe", "valve", "screw"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EMBED_DIM = 64
N_LABELS = 10
# share of documents that are a near-duplicate of another document
DUP_SHARE = 0.05


def _day_ts(rng, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    d = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return base + d


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def _pick(rng, choices, n: int, p=None) -> pa.Array:
    idx = rng.choice(len(choices), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(choices, pa.string())
    ).cast(pa.string())


def _documents(rng, n: int) -> pa.Table:
    n_words = rng.integers(10, 101, n)
    vocab = np.array(WORDS)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in n_words]
    n_dup = int(n * DUP_SHARE)
    dups = rng.choice(n, n_dup, replace=False)
    for i in dups:
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
        }
    )


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    centers = rng.normal(0.0, 0.1, (N_LABELS, EMBED_DIM))
    v = rng.normal(0.0, 1.0, (n, EMBED_DIM)) + centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.FixedSizeListArray.from_arrays(
                pa.array(v.ravel()), EMBED_DIM
            ).cast(pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (row counts of TPC-H at
    ``sf``; events, documents and embeddings scale the same way)."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_doc = int(50_000 * sf)
    n_emb = int(20_000 * sf)
    i32 = lambda a: pa.array(np.asarray(a, np.int32))  # noqa: E731
    i64 = lambda a: pa.array(np.asarray(a, np.int64))  # noqa: E731
    out = {
        "region": pa.table(
            {"r_regionkey": i32(np.arange(5)), "r_name": pa.array(REGIONS)}
        ),
        "nation": pa.table(
            {
                "n_nationkey": i32(np.arange(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": i32(np.arange(25) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": i64(np.arange(n_cust)),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": i32(rng.integers(0, 25, n_cust)),
                "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": i64(np.arange(n_supp)),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": i32(rng.integers(0, 25, n_supp)),
                "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99)),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": i64(np.arange(n_part)),
                "p_name": pa.array(
                    [
                        f"{PART_ADJ[a]} {PART_NOUN[b]}"
                        for a, b in zip(
                            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                        )
                    ]
                ),
                "p_brand": pa.array(
                    [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]
                ),
                "p_type": _pick(rng, PART_TYPES, n_part),
                "p_size": i32(rng.integers(1, 51, n_part)),
                "p_retailprice": pa.array(
                    np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": i64(np.arange(n_ord)),
                "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": _pick(rng, ORDER_STATUS, n_ord),
                "o_totalprice": pa.array(_money(rng, n_ord, 1000.0, 500000.0)),
                "o_orderdate": pa.array(_day_ts(rng, n_ord, "1995-01-01", 2405)),
                "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": i64(rng.integers(0, n_ord, n_li)),
                "l_partkey": i64(rng.integers(0, n_part, n_li)),
                "l_suppkey": i64(rng.integers(0, n_supp, n_li)),
                "l_linenumber": i32(rng.integers(1, 8, n_li)),
                "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
                "l_extendedprice": pa.array(_money(rng, n_li, 900.0, 105000.0)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
                "l_linestatus": _pick(rng, ["F", "O"], n_li),
                "l_shipdate": pa.array(_day_ts(rng, n_li, "1995-01-02", 2499)),
            }
        ),
        "events": pa.table(
            {
                "event_id": i64(np.arange(n_ev)),
                "ts": pa.array(
                    np.datetime64("2024-01-01", "us")
                    + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype(
                        "timedelta64[us]"
                    )
                ),
                "user_id": i64(rng.integers(0, int(15_000 * sf), n_ev)),
                "event_type": _pick(rng, EVENT_TYPES, n_ev),
                "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
                "props": pa.array(
                    [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]
                ),
            }
        ),
        "documents": _documents(rng, n_doc),
        "embeddings": _embeddings(rng, n_emb),
    }
    return out


def write_tables(out_dir: Path, sf: float, seed: int) -> None:
    """Materialise every table under ``out_dir`` (atomically: a
    partial directory is never left under the final name)."""
    out_dir = Path(out_dir)
    tmp = out_dir.with_name(out_dir.name + f".tmp{os.getpid()}")
    tmp.mkdir(parents=True, exist_ok=True)
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, tmp / f"{name}.parquet", row_group_size=table.num_rows)
    os.replace(tmp, out_dir)
