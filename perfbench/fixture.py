"""Seeded generator of the engine's ten parquet fixture tables.

The tables have the same names, column types and value distributions as
the engine's reference fixtures (see FIXTURES.md), at the smallest scale
by default: 500 embeddings, 500 documents, 1,000 events, 6,000 lineitem
rows. The same seed and row counts always yield byte-identical files.

Usage: python3 perfbench/fixture.py OUT_DIR SEED ['{"embeddings": 1000}']
"""
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
VOCAB = ("scan column window order sort part agg value line key join merge "
         "group query a vector hash slow stream filter fast the batch spark "
         "table small data big customer row").split()
LANGS = np.array(["en", "fr", "es", "zh", "de"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
SEGMENTS = np.array(["FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD",
                     "AUTOMOBILE"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new", "cold"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
PART_TYPES = np.array(["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD",
                       "LARGE"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
US_PER_DAY = 86_400_000_000

# rows per table unless overridden
BASE = {"embeddings": 500, "documents": 500, "events": 1000,
        "lineitem": 6000, "orders": 1500, "customer": 150, "part": 200,
        "supplier": 10}


def _ts(start_day, us):
    """Naive (no time zone) microsecond timestamps, as the fixtures store."""
    base = np.datetime64(start_day, "us").astype(np.int64)
    return pa.array(base + np.asarray(us, dtype=np.int64), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def embeddings(rng, n):
    v = rng.standard_normal((n, DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    offsets = pa.array(np.arange(0, (n + 1) * DIM, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, pa.array(v.ravel())),
        "label": pa.array(rng.integers(0, 10, n, dtype=np.int32)),
    })


def documents(rng, n):
    """Word salad over a 30-word vocabulary. 5% of documents are near
    copies of an original (a few leading characters cut, " dup" appended)
    and 0.2% exact copies, so every dedup path has work. A copy is only
    ever made of an original with a smaller doc_id: every duplicate
    cluster is a star whose centre holds the smallest id, so label
    propagation over the clusters takes the same number of rounds for
    every seed, which keeps the dedup workload's work per seed steady."""
    texts = [" ".join(rng.choice(VOCAB, rng.integers(10, 101)))
             for _ in range(n)]
    n_near, n_exact = round(0.05 * n), max(1, round(0.002 * n))
    copies = rng.choice(np.arange(n // 10, n), n_near + n_exact, replace=False)
    originals = np.setdiff1d(np.arange(n), copies)
    for j, i in enumerate(copies):
        src = texts[int(rng.choice(originals[originals < i]))]
        texts[i] = src[int(rng.integers(0, 6)):] + " dup" if j < n_near else src
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def events(rng, n):
    """Time-ordered events over 30 days from a pool of ~1.5% as many users."""
    us = np.sort(rng.integers(0, 30 * US_PER_DAY, n))
    users = max(2, round(n * 0.015))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": _ts("2024-01-01", us),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def relational(rng, sizes):
    n_ord, n_li = sizes["orders"], sizes["lineitem"]
    n_cust, n_part, n_supp = sizes["customer"], sizes["part"], sizes["supplier"]
    span = 2404 * US_PER_DAY  # 1995-01-01 .. 2001-08-01
    days = lambda n: rng.integers(0, 2404, n) * US_PER_DAY
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                            for _ in range(n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + 0.1 * (np.arange(n_part) % 1000), 2))})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(np.array(["O", "F", "P"]), n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts("1995-01-01", days(n_ord)),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n_li)),
        "l_linestatus": pa.array(rng.choice(np.array(["O", "F"]), n_li)),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, span // US_PER_DAY + 93, n_li) * US_PER_DAY)})
    return out


def generate(out_dir, seed, rows=None):
    """Write the ten tables as <out_dir>/<name>.parquet; `rows` overrides
    BASE row counts per table. Returns the row counts written."""
    sizes = dict(BASE, **(rows or {}))
    rng = np.random.default_rng(seed)
    tables = {"embeddings": embeddings(rng, sizes["embeddings"]),
              "documents": documents(rng, sizes["documents"]),
              "events": events(rng, sizes["events"])}
    tables.update(relational(rng, sizes))
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2]),
                   json.loads(sys.argv[3]) if len(sys.argv) > 3 else None))
