"""Deterministic synthetic input tables for the benchmark.

Writes the ten tables the registered queries read (a TPC-H-like star
schema plus `events`, `documents` and `embeddings`), one parquet file
each, at a scale factor `sf`. The shapes follow the repository's test
data: the same columns and types, 30 days of events, a 30-word document
vocabulary with planted exact duplicates (" dup" suffix), unit-norm
64-d embeddings with ten labels.

The generator seed is fixed: a benchmark seed only permutes the order in
which the workloads use these inputs, so every run measures the same
data.

Usage: python3 perfbench/datagen.py OUT_DIR SF
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
EPOCH_DAY = np.datetime64("1970-01-01", "D")
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()


def rng(table):
    return np.random.default_rng([SEED, sum(map(ord, table))])


def money(r, lo, hi, n):
    return np.round(r.uniform(lo, hi, n), 2)


def days_between(r, first, last, n):
    lo = (np.datetime64(first, "D") - EPOCH_DAY).astype(int)
    hi = (np.datetime64(last, "D") - EPOCH_DAY).astype(int)
    d = r.integers(lo, hi + 1, n)
    return pa.array(d.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def pick(r, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[r.choice(len(values), n, p=p)])


def tables(sf):
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(15, n_cust // 10)
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    yield "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    yield "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = rng("customer")
    yield "customer", pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(r, -999.99, 9999.99, n_cust),
        "c_mktsegment": pick(r, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                 "HOUSEHOLD", "MACHINERY"], n_cust)})

    r = rng("supplier")
    yield "supplier", pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(r, -999.99, 9999.99, n_supp)})

    r = rng("part")
    adj = ["small", "red", "blue", "hot", "old", "new", "cold", "large"]
    noun = ["ring", "widget", "bolt", "plate", "gear", "rod", "anvil", "nut"]
    ids = np.arange(n_part)
    yield "part", pa.table({
        "p_partkey": ids.astype("int64"),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": pick(r, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                           "STANDARD"], n_part),
        "p_size": pa.array(r.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (ids % 1000) / 10, 1)})

    r = rng("orders")
    yield "orders", pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": r.integers(0, n_cust, n_ord),
        "o_orderstatus": pick(r, ["F", "O", "P"], n_ord),
        "o_totalprice": money(r, 1000, 500000, n_ord),
        "o_orderdate": days_between(r, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": pick(r, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                    "4-NOT SPECIFIED", "5-LOW"], n_ord)})

    r = rng("lineitem")
    yield "lineitem", pa.table({
        "l_orderkey": r.integers(0, n_ord, n_line),
        "l_partkey": r.integers(0, n_part, n_line),
        "l_suppkey": r.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(r.integers(1, 8, n_line), pa.int32()),
        "l_quantity": r.integers(1, 51, n_line).astype("float64"),
        "l_extendedprice": money(r, 900, 105000, n_line),
        "l_discount": r.integers(0, 11, n_line) / 100.0,
        "l_tax": r.integers(0, 9, n_line) / 100.0,
        "l_returnflag": pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": pick(r, ["F", "O"], n_line),
        "l_shipdate": days_between(r, "1995-01-02", "2001-11-04", n_line)})

    r = rng("events")
    start = (np.datetime64("2024-01-01", "us") - np.datetime64(0, "us")).astype("int64")
    ts = np.sort(start + r.integers(0, 30 * 86_400_000_000, n_ev))
    yield "events", pa.table({
        "event_id": np.arange(n_ev, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": r.integers(0, n_users, n_ev),
        "event_type": pick(r, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(r.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]})

    r = rng("documents")
    texts = [" ".join(np.asarray(VOCAB)[r.integers(0, len(VOCAB), r.integers(10, 101))])
             for _ in range(n_docs)]
    for i in sorted(r.choice(np.arange(1, n_docs), n_docs // 20, replace=False)):
        texts[i] = texts[r.integers(0, i)] + " dup"
    yield "documents", pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": pick(r, ["en", "de", "es", "fr", "zh"], n_docs,
                     p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})

    r = rng("embeddings")
    v = r.standard_normal((n_vecs, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    yield "embeddings", pa.table({
        "vec_id": np.arange(n_vecs, dtype="int64"),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_vecs), pa.int32())})


def main(out_dir, sf):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(sf):
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1], float(sys.argv[2]))
