#!/usr/bin/env python3
"""Seeded generator of the batch tables that `batch_ops` queries.

Writes region, nation, customer, supplier, part, orders, lineitem, events,
documents and embeddings as one parquet file each, with the column names,
physical types and value shapes of the project's test tables at scale
factor 0.01 (TESTDATA.md). The same seed gives byte-identical tables.

Usage: python3 perfbench/gen_tables.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500}
VOCAB = ("a the data row scan slow fast table value part hash merge batch spark "
         "line sort window key join small order agg column query customer stream "
         "group filter vector big").split()
EPOCH_DAY = np.datetime64("1970-01-01")


def days(lo, hi, n, rng):
    """Naive microsecond timestamps at midnight, uniform over [lo, hi]."""
    d0 = (np.datetime64(lo) - EPOCH_DAY).astype(int)
    d1 = (np.datetime64(hi) - EPOCH_DAY).astype(int)
    d = rng.integers(d0, d1 + 1, n).astype("int64")
    return pa.array(d * 86_400_000_000, pa.timestamp("us"))


def money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng, n):
    # which document copies which is fixed, only the words vary with the
    # seed: the dedup and clustering loops then do the same amount of work
    # for every seed
    texts = []
    for i in range(n):
        if i % 20 == 19:  # near-duplicate of an earlier document
            texts.append(texts[i - 1 - (i * 7) % 19] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, 10 + (i * 37) % 86)))
    langs = rng.choice(["en", "zh", "es", "de", "fr"], n, p=[.44, .15, .15, .14, .12])
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": langs.tolist(),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] + 0.6 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def tables(seed):
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
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(s["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(s["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, s["customer"]), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, s["customer"], rng),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], s["customer"]).tolist()})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(s["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, s["supplier"]), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, s["supplier"], rng)})
    adj = ["red", "blue", "green", "small", "large", "hot", "old", "new"]
    noun = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(s["part"]), pa.int64()),
        "p_name": [f"{rng.choice(adj)} {rng.choice(noun)}" for _ in range(s["part"])],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s["part"])],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], s["part"]).tolist(),
        "p_size": pa.array(rng.integers(1, 51, s["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(s["part"]) % 1000) / 10.0, 2)})
    no = s["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, s["customer"], no), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": money(1000.0, 500000.0, no, rng),
        "o_orderdate": days("1995-01-01", "2001-08-01", no, rng),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], no).tolist()})
    nl = s["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, s["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, s["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, nl, rng),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": days("1995-01-02", "2001-11-04", nl, rng)})
    ne = s["events"]
    t0 = (np.datetime64("2024-01-01") - EPOCH_DAY).astype(int) * 86_400_000_000
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, ne)) + t0
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"],
                                 ne).tolist(),
        "value": money(0.01, 490.0, ne, rng),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    out["documents"] = documents(rng, s["documents"])
    out["embeddings"] = embeddings(rng, s["embeddings"])
    return out


def main(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables(seed).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]))
