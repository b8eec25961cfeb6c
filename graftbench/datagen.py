"""Seeded synthetic tables in the layout graft's faces read.

Writes `<out>/<table>.parquet` for the ten tables in `graft.Tables`
(region nation customer supplier part orders lineitem events documents
embeddings) with the column names and types of the TPC-H-like test
tables: int64 keys, int32 small keys, float64 money, timestamp[us]
dates, a 31-word document vocabulary with 30 planted near-duplicates, and
unit-norm 64-d float32 embeddings. Row counts scale with `sf` exactly
as the test tables do (lineitem = 6,000,000 x sf); documents and
embeddings stay at 500 rows. The same seed and sf give byte-identical
files.

Usage: python3 datagen.py <out_dir> <seed> [sf]
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
N_DOCS = 500
N_DUPS = 30
DIM = 64


def _ts(base, micros):
    return pa.array([base + dt.timedelta(microseconds=int(m)) for m in micros],
                    pa.timestamp("us"))


def tables(seed, sf):
    """The tables, and the planted near-duplicate (base, dup) doc id pairs."""
    rng = np.random.default_rng(seed)
    n_c = max(int(150000 * sf), 10)
    n_s = max(int(10000 * sf), 5)
    n_p = max(int(200000 * sf), 10)
    n_o = max(int(1500000 * sf), 10)
    n_l = max(int(6000000 * sf), 10)
    n_e = max(int(1000000 * sf), 10)
    n_u = max(int(15000 * sf), 3)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_c), 2),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_c)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_s), 2)})
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_p), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, len(ADJ), n_p), rng.integers(0, len(NOUN), n_p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": [PTYPES[i] for i in rng.integers(0, len(PTYPES), n_p)],
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": [round(900 + (i % 1000) * 0.1, 2) for i in range(n_p)]})
    day0 = dt.datetime(1995, 1, 1)
    o_days = rng.integers(0, (dt.datetime(2001, 8, 1) - day0).days + 1, n_o)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_o)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_o), 2),
        "o_orderdate": _ts(day0, o_days * 86400 * 10**6),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_o)]})
    l_ok = rng.integers(0, n_o, n_l)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    ship = o_days[l_ok] + rng.integers(1, 122, n_l)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_ok, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_l), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_l), 2),
        "l_discount": np.round(rng.integers(0, 11, n_l) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_l) / 100, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_l)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_l)],
        "l_shipdate": _ts(day0, ship * 86400 * 10**6)})
    e_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_e))
    out["events"] = pa.table({
        "event_id": pa.array(range(n_e), pa.int64()),
        "ts": _ts(dt.datetime(2024, 1, 1), e_us),
        "user_id": pa.array(rng.integers(0, n_u, n_e), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_e)],
        "value": np.round(rng.exponential(60.0, n_e), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})
    # 30 planted near-duplicates (6%): an earlier document with one or
    # two "dup" markers appended
    dups = set(int(i) for i in rng.choice(np.arange(1, N_DOCS), N_DUPS, replace=False))
    texts, planted = [], []
    for i in range(N_DOCS):
        if i in dups:
            base = int(rng.integers(0, i))
            planted.append((base, i))
            texts.append(texts[base] + " dup" * int(rng.integers(1, 3)))
        else:
            n = int(rng.integers(8, 91))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n)))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(N_DOCS), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(len(LANGS), N_DOCS, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(N_DOCS)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    x = rng.standard_normal((N_DOCS, DIM))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(N_DOCS), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_DOCS), pa.int32())})
    return out, planted


def write(out_dir, seed, sf):
    """Write the tables; returns the planted near-duplicate pairs."""
    os.makedirs(out_dir, exist_ok=True)
    out, planted = tables(seed, sf)
    for name, t in out.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return planted


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]) if len(sys.argv) > 3 else 0.001)
