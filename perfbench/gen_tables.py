"""Seeded generator for the query_mix tables.

Writes the ten parquet tables the query registry reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings) with the column names, parquet types and value domains
documented in FIXTURES.md, at the sf0.1 row counts. Values are drawn
independently and uniformly (exponential for events.value), so the
DuckDB oracles and the Spark queries see the same kind of data the
registry was written against.

Usage: python3 gen_tables.py <out_dir> [seed]
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000, "embeddings": 2000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
EMB_DIM = 64


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, end, n):
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def keyed_names(prefix, n):
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)], pa.string())


def tables(rng):
    n = ROWS
    yield "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())}
    yield "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}
    yield "customer", {
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": keyed_names("Customer", n["customer"]),
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": pick(rng, SEGMENTS, n["customer"])}
    yield "supplier", {
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": keyed_names("Supplier", n["supplier"]),
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": money(rng, -999.99, 9999.99, n["supplier"])}
    parts = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    yield "part", {
        "p_partkey": pa.array(np.arange(parts), pa.int64()),
        "p_name": pick(rng, names, parts),
        "p_brand": pick(rng, [f"Brand#{i}" for i in range(1, 26)], parts),
        "p_type": pick(rng, PART_TYPES, parts),
        "p_size": pa.array(rng.integers(1, 51, parts), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(parts) % 1000) / 10.0, 1)}
    orders = n["orders"]
    yield "orders", {
        "o_orderkey": pa.array(np.arange(orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], orders), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], orders),
        "o_totalprice": money(rng, 1000.0, 500000.0, orders),
        "o_orderdate": days(rng, "1995-01-01", "2001-08-01", orders),
        "o_orderpriority": pick(rng, PRIORITIES, orders)}
    li = n["lineitem"]
    yield "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, orders, li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, parts, li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], li),
        "l_linestatus": pick(rng, ["F", "O"], li),
        "l_shipdate": days(rng, "1995-01-02", "2001-11-04", li)}
    ev = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(t0 + rng.integers(0, span_us, ev))
    yield "events", {
        "event_id": pa.array(np.arange(ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, ev), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, ev),
        "value": np.round(rng.exponential(50.0, ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ev)], pa.string())}
    docs = n["documents"]
    words = np.asarray(WORDS, dtype=object)
    text = [" ".join(words[rng.integers(0, len(WORDS), k)])
            for k in rng.integers(10, 101, docs)]
    # near-duplicates: every 20th document repeats an earlier one plus a marker
    for i in range(20, docs, 20):
        text[i] = text[int(rng.integers(0, i))] + " dup"
    yield "documents", {
        "doc_id": pa.array(np.arange(docs), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pick(rng, LANGS, docs, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64())}
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centroids = rng.normal(0.0, 1.0, (10, EMB_DIM))
    x = rng.normal(0.0, 1.0, (m, EMB_DIM)) + 0.5 * centroids[labels]
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    yield "embeddings", {
        "vec_id": pa.array(np.arange(m), pa.int64()),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}


def main():
    out = sys.argv[1]
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, cols in tables(rng):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    main()
