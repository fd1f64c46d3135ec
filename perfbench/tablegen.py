"""Seeded analytic tables for the `analytics` workload.

Writes the ten tables the registered queries read (the TPC-H-like star
schema plus `events`, `documents` and `embeddings`) as one parquet file
each, with the column names, types and value domains of the engine's
reference fixtures. `rows` scales every table the way the fixtures'
scale factor does; `rows=60_000` lineitem rows is the shape of sf0.01.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DIM = 64


def _days(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D")
    span = int((np.datetime64(last, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    texts = []
    for _ in range(n):
        texts.append(" ".join(rng.choice(WORDS, rng.integers(8, 100))))
    # exact and near duplicates, so the dedup queries have work to find
    for i in rng.choice(n, n // 25, replace=False):
        j = int(rng.integers(0, n))
        words = texts[j].split()
        if rng.random() < 0.5 and len(words) > 4:
            words[int(rng.integers(0, len(words)))] = "dup"
        texts[i] = " ".join(words)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(LANGS, n).tolist(),
        "source": [f"src{k}" for k in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(size=(10, DIM))
    label = rng.integers(0, 10, n)
    vec = centers[label] + rng.normal(scale=1.5, size=(n, DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def build(seed: int, rows: int) -> dict[str, pa.Table]:
    """All ten tables for `seed`, with `rows` lineitem rows."""
    rng = np.random.default_rng(seed)
    n_orders = rows // 4
    n_cust = max(50, rows // 40)
    n_supp = max(10, rows // 600)
    n_part = max(100, rows // 30)
    n_events = max(1000, rows // 6)
    n_users = max(20, n_events // 66)
    n_docs = max(100, rows // 40)
    n_vecs = max(100, rows // 40)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part).tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders).tolist(),
        "o_totalprice": _money(rng, n_orders, 1000, 500000),
        "o_orderdate": _days(rng, n_orders, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders).tolist(),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, rows), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, rows), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, rows), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, rows), pa.int32()),
        "l_quantity": rng.integers(1, 51, rows).astype(np.float64),
        "l_extendedprice": _money(rng, rows, 900, 105000),
        "l_discount": rng.integers(0, 11, rows) / 100,
        "l_tax": rng.integers(0, 9, rows) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], rows).tolist(),
        "l_linestatus": rng.choice(["F", "O"], rows).tolist(),
        "l_shipdate": _days(rng, rows, "1995-01-02", "2001-11-04"),
    })
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_events).tolist(),
        "value": np.round(rng.exponential(40, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    t["documents"] = _documents(rng, n_docs)
    t["embeddings"] = _embeddings(rng, n_vecs)
    return t


def cached(seed: int, rows: int, cache_root: str) -> str:
    """Write the tables once per (seed, rows); returns their directory."""
    out_dir = os.path.join(cache_root, f"tables-{seed}-{rows}")
    if not os.path.exists(os.path.join(out_dir, "_SUCCESS")):
        tmp = f"{out_dir}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        for name, table in build(seed, rows).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
        open(os.path.join(tmp, "_SUCCESS"), "w").close()
        try:
            os.rename(tmp, out_dir)
        except OSError:  # another process cached the same tables first
            shutil.rmtree(tmp, ignore_errors=True)
    return out_dir


def sizes(table_dir: str) -> dict:
    """Rows and on-disk bytes of the tables in `table_dir`."""
    out = {}
    for name in TABLES:
        p = os.path.join(table_dir, f"{name}.parquet")
        out[name] = {"rows": pq.ParquetFile(p).metadata.num_rows,
                     "bytes": os.path.getsize(p)}
    return out
