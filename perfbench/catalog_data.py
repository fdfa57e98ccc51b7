#!/usr/bin/env python3
"""Generates the catalog workload's tables: the ten parquet tables that
`graft.Tables` reads (TPC-H-like star schema, `events`, `documents`,
`embeddings`), at a fixed seed and a small fixed scale, so every run and
every commit queries the same bytes. The run's own seed only sets the
order in which the queries run.

    python3 perfbench/catalog_data.py OUT_DIR
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20261017
# documents and events are large enough that the text and aggregate kernels,
# not Spark's per-task and per-job overhead, take most of the task time
SCALE = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 100000, "documents": 2500, "embeddings": 500}
WORDS = ("a the data table query spark stream batch row column key value hash join "
         "merge sort group agg filter scan window order part line customer vector "
         "fast slow big small").split()


def _ts(rng, n, start, days):
    base = np.datetime64(start, "us")
    return base + (rng.integers(0, days * 86400, n) * 1_000_000).astype("timedelta64[us]")


def _day(rng, n, start, days):
    return np.datetime64(start, "us") + (rng.integers(0, days, n) * 86_400_000_000).astype("timedelta64[us]")


def tables(seed=DATA_SEED):
    rng = np.random.default_rng(seed)
    s = SCALE
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = s["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n)})
    n = s["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2)})
    n = s["part"]
    adj = ["red", "blue", "old", "hot", "small", "large", "green", "cold", "shiny", "dark", "tiny", "big", "soft"]
    noun = ["widget", "bolt", "gear", "anvil", "ring"]
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, len(adj), n), rng.integers(0, len(noun), n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n),
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + rng.integers(0, 1000, n) / 10.0, 2)})
    n = s["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s["customer"], n), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": _day(rng, n, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n)})
    n = s["lineitem"]
    qty = rng.integers(1, 51, n).astype(float)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, s["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _day(rng, n, "1995-01-02", 2498)})
    n = s["events"]
    out["events"] = pa.table({
        "event_id": pa.array(range(n), pa.int64()),
        "ts": np.sort(_ts(rng, n, "2024-01-01", 30)),
        "user_id": pa.array(rng.integers(0, 150, n), pa.int64()),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n),
        "value": np.round(rng.exponential(60.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    n = s["documents"]
    texts = [" ".join(rng.choice(WORDS, int(k))) for k in rng.integers(8, 90, n)]
    # a few near-duplicates and exact duplicates, as in a real crawl
    for i in range(0, n, 25):
        texts[i + 1] = texts[i]
        texts[i + 2] = texts[i] + " " + WORDS[i % len(WORDS)]
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    n = s["embeddings"]
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n)
    vecs = centers[labels] + rng.normal(0, 0.6, (n, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array([v.astype(np.float32).tolist() for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    return out


def main(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables().items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1])
