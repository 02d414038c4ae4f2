"""Deterministic fixture generator for the benchmark.

Writes the ten tables the engine's queries read (TPC-H-like star schema plus
`events`, `documents` and `embeddings`) as parquet under one directory, with
the same schemas and value domains as the engine's test fixtures. Large
tables are split into several part files, so scans run as several tasks.

The same (scale, files, data seed, documents) always gives identical table
contents. `documents` overrides the row count of `documents` and
`embeddings`, which the text and vector operators scan.
Usage: python3 gen.py <out_dir> <scale> <files> [data_seed] [documents]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window data column join small customer query big "
         "order stream group filter vector").split()

DAY_US = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def write(out, name, table, files):
    """One file for small tables; `files` row-sliced part files otherwise."""
    path = os.path.join(out, f"{name}.parquet")
    if files <= 1 or table.num_rows < 10_000:
        pq.write_table(table, path)
        return
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))


def documents(rng, n):
    """Word-salad documents with exact and near duplicates, so dedup and
    similarity operators find real pairs."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and r < 0.06:
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(max(1, len(words) // 20)):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n), pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, n, dim=64):
    labels = rng.integers(0, 10, n)
    centres = rng.normal(0, 1, (10, dim))
    v = centres[labels] * 0.5 + rng.normal(0, 1, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def generate(out, scale, files, seed=42, docs=None):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(1, int(150_000 * scale))
    n_supp = max(1, int(10_000 * scale))
    n_part = max(1, int(200_000 * scale))
    n_ord = max(1, int(1_500_000 * scale))
    n_line = max(1, int(6_000_000 * scale))
    n_evt = max(1, int(1_000_000 * scale))
    n_users = max(1, int(15_000 * scale))
    n_docs = docs or max(500, int(50_000 * scale))
    n_emb = docs or max(500, int(20_000 * scale))

    write(out, "region", pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())}), 1)
    write(out, "nation", pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())}), 1)
    write(out, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string())}), files)
    write(out, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)}), files)
    pk = np.arange(n_part)
    write(out, "part", pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
                           pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()),
        "p_type": pa.array(rng.choice(PTYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1)}), files)
    odate = EPOCH_1995 + rng.integers(0, 2404, n_ord) * DAY_US
    write(out, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": money(rng, 1000, 500000, n_ord),
        "o_orderdate": ts(odate),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string())}), files)
    write(out, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, n_line),
        "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), pa.string()),
        "l_shipdate": ts(EPOCH_1995 + rng.integers(1, 2499, n_line) * DAY_US)}), files)
    evt_ts = EPOCH_2024 + np.sort(rng.integers(0, 30 * DAY_US, n_evt))
    write(out, "events", pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": ts(evt_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt), pa.string()),
        "value": money(rng, 0.01, 490.0, n_evt),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
                          pa.string())}), files)
    write(out, "documents", documents(rng, n_docs), files)
    write(out, "embeddings", embeddings(rng, n_emb), 1)


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]),
             int(sys.argv[4]) if len(sys.argv) > 4 else 42,
             int(sys.argv[5]) if len(sys.argv) > 5 else None)
