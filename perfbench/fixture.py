#!/usr/bin/env python3
"""Seeded fixture for the query_mix workload: the ten tables the declared
queries read (TPC-H-ish star schema, clickstream events, documents and
embeddings), with the schemas, row counts and key domains of the engine's
sf0.01 fixture (FIXTURES.md gives them at sf0.001; fact tables and the
user_id domain grow x10 to sf0.01): for example 10,000 events of 150 users
(user_id 0..149) over 2024-01-01..2024-01-30.

Deliberate departures from FIXTURES.md:
- every timestamp column (events.ts, orders.o_orderdate, lineitem.l_shipdate)
  is timestamp[us], the encoding of the current sf fixture files, where
  FIXTURES.md lists timestamp[ns] and timestamp[ms]; graft.Tables.load
  reads either as TimestampType;
- the values are drawn from this module's own generator (numpy, seed 42),
  not the engine fixture's, so the rows differ while the domains agree.

The fixture is fixed (seed 42), like the tables the engine's oracle gate
runs on; the query_mix seed varies the query order, not the data. It is
written once per checkout under .bench_out/ and reused.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42
SF = 0.01
WORDS = ("spark window merge table column vector stream value data small join filter big "
         "group hash customer sort order slow line part fast row the agg key query a scan batch").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "green"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "nut", "spring", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "purchase", "error", "signup", "view"]


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, end, n):
    d0, d1 = np.datetime64(start, "D"), np.datetime64(end, "D")
    return (d0 + rng.integers(0, (d1 - d0).astype(np.int64) + 1, n)).astype("datetime64[us]")


def tables(rng):
    n_cust, n_supp, n_part = int(150000 * SF), int(10000 * SF), int(200000 * SF)
    n_orders, n_line, n_events = int(1500000 * SF), int(6000000 * SF), int(1000000 * SF)
    n_docs, n_vecs = 500, 500
    i32 = pa.int32()
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), i32),
                            "n_name": [f"NATION_{i}" for i in range(25)],
                            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 2)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": money(rng, 1000, 500000, n_orders),
        "o_orderdate": days(rng, "1995-01-01", "2001-08-01", n_orders),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": days(rng, "1995-01-02", "2001-11-04", n_line)})
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_events)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, int(15000 * SF), n_events),
        "event_type": rng.choice(EVENT_TYPES, n_events),
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    v = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
    return t


def ensure(out_root):
    """Writes the fixture under out_root once; returns its directory."""
    with open(__file__, "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(out_root, f"fixture-{tag}")
    if os.path.exists(os.path.join(d, "_DONE")):
        return d
    os.makedirs(d, exist_ok=True)
    for name, table in tables(np.random.default_rng(SEED)).items():
        pq.write_table(table, os.path.join(d, f"{name}.parquet"))
    open(os.path.join(d, "_DONE"), "w").close()
    return d


if __name__ == "__main__":
    import sys
    print(ensure(sys.argv[1] if len(sys.argv) > 1 else ".bench_out"))
