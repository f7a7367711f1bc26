"""Deterministic synthetic corpus for the registry workloads.

Writes the ten tables ``covid_19_fl_spark.tables.TABLE_NAMES`` expects
(a TPC-H-style star schema plus ``events``, ``documents`` and
``embeddings``), one parquet file each with one row group, in the
physical types the engine's loaders are written against (INT64 keys,
INT32 small ints, TIMESTAMP(MICROS, not UTC-adjusted), list<float>).

The corpus seed is fixed: ``--seed`` only permutes query order, so the
expected row counts in ``expected_counts.json`` hold for every run.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated bytes change; the cache key and the recorded
# expected counts both follow it.
VERSION = 1
CORPUS_SEED = 20200301
SCALE = 0.01  # lineitem ≈ 6,000,000 × SCALE rows

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64

TS = pa.timestamp("us")


def sizes(scale: float = SCALE) -> dict[str, int]:
    """Row count per table at ``scale``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * scale),
        "supplier": max(10, int(10_000 * scale)),
        "part": int(200_000 * scale),
        "orders": int(1_500_000 * scale),
        "lineitem": int(6_000_000 * scale),
        "events": int(1_000_000 * scale),
        "documents": max(500, int(50_000 * scale)),
        "embeddings": max(500, int(20_000 * scale)),
    }


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: dt.date, end: dt.date, n: int) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(VOCAB, k)))
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> pa.Table:
    labels = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(0, 1, (10, EMBED_DIM))
    vecs = centroids[labels] + rng.normal(0, 1.5, (n, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": pa.array(labels),
        }
    )


def build_tables(scale: float = SCALE, seed: int = CORPUS_SEED) -> dict[str, pa.Table]:
    """All ten tables as Arrow tables (pure function of scale and seed)."""
    rng = np.random.default_rng(seed)
    n = sizes(scale)
    i32 = np.int32
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype=i32)), "r_name": REGIONS}
    )
    nk = np.arange(25, dtype=i32)
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(nk),
            "n_name": [f"NATION_{k}" for k in nk],
            "n_regionkey": pa.array((nk % 5).astype(i32)),
        }
    )
    c = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
            "c_name": [f"Customer#{k:09d}" for k in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c).astype(i32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c)),
            "c_mktsegment": rng.choice(SEGMENTS, c),
        }
    )
    s = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
            "s_name": [f"Supplier#{k:09d}" for k in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s).astype(i32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, s)),
        }
    )
    p = n["part"]
    pk = np.arange(p, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(pk),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(PART_ADJ, p), rng.choice(PART_NOUN, p))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": rng.choice(PART_TYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p).astype(i32)),
            "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 2)),
        }
    )
    o = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, c, o).astype(np.int64)),
            "o_orderstatus": rng.choice(["F", "O", "P"], o),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, o)),
            "o_orderdate": pa.array(
                _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), o), type=TS
            ),
            "o_orderpriority": rng.choice(PRIORITIES, o),
        }
    )
    li = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li).astype(np.int64)),
            "l_partkey": pa.array(rng.integers(0, p, li).astype(np.int64)),
            "l_suppkey": pa.array(rng.integers(0, s, li).astype(np.int64)),
            "l_linenumber": pa.array(rng.integers(1, 8, li).astype(i32)),
            "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105000, li)),
            "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
            "l_returnflag": rng.choice(["A", "N", "R"], li),
            "l_linestatus": rng.choice(["F", "O"], li),
            "l_shipdate": pa.array(
                _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), li), type=TS
            ),
        }
    )
    e = n["events"]
    month_us = 30 * 24 * 3600 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, e)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e, dtype=np.int64)),
            "ts": pa.array(ts, type=TS),
            "user_id": pa.array(rng.integers(0, max(10, int(e * 0.015)), e).astype(np.int64)),
            "event_type": rng.choice(EVENT_TYPES, e),
            "value": pa.array(np.round(rng.exponential(50.0, e), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    out["documents"] = pa.table(_documents(rng, n["documents"]))
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def corpus_dir(work: str) -> str:
    return os.path.join(work, f"corpus-v{VERSION}-sf{SCALE}")


def ensure_corpus(work: str) -> str:
    """Build the corpus under ``work`` once; later calls reuse it. The
    ready marker sits beside the directory, not in it, so it never
    counts toward ``tables.corpus_bytes``."""
    dest = corpus_dir(work)
    marker = dest + ".ready"
    if os.path.exists(marker):
        return dest
    os.makedirs(dest, exist_ok=True)
    for name, table in build_tables().items():
        pq.write_table(table, os.path.join(dest, f"{name}.parquet"), compression="snappy")
    with open(marker, "w") as fh:
        fh.write("ok\n")
    return dest
