"""Seeded generator for the query-board input tables.

Writes region, nation, customer, supplier, part, orders, lineitem,
documents and embeddings as one parquet file each, with the column names,
physical types and value ranges of the project's TPC-H-shaped test
tables. The row counts are those of the sf0.01 tables; only the values
depend on the seed.

Usage: python3 gen_tables.py <out_dir> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1_500, "supplier": 100, "part": 2_000,
        "orders": 15_000, "lineitem": 60_000, "documents": 500,
        "embeddings": 500}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "hot", "large", "cold", "small", "new", "blue", "old"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]


def days(rng, n, start, end):
    """Midnight timestamps drawn uniformly from [start, end]."""
    d0 = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - d0).astype(int) + 1
    return (d0 + rng.integers(0, span, n)).astype("datetime64[us]")


def money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed):
    rng = np.random.default_rng(seed)
    nc, ns, npart, no, nl, nd, ne = (ROWS[k] for k in (
        "customer", "supplier", "part", "orders", "lineitem", "documents",
        "embeddings"))
    i32, i64 = pa.int32(), pa.int64()
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": money(rng, ns, -999.99, 9999.99)})
    keys = np.arange(npart)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": money(rng, no, 1000.0, 500000.0),
        "o_orderdate": days(rng, no, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, nl, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": days(rng, nl, "1995-01-02", "2001-11-04")})
    texts = []
    for i in range(nd):
        if i > 0 and rng.random() < 0.05:
            # near-duplicate of an earlier document, as in the test corpus
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 100))))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(nd), i64),
        "text": texts,
        "lang": rng.choice(LANGS, nd, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    # unit vectors clustered around one centre per label
    labels = rng.integers(0, 10, ne)
    vecs = rng.normal(size=(10, 64))[labels] + 0.5 * rng.normal(size=(ne, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(ne), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    return out


def main(out_dir, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]))
