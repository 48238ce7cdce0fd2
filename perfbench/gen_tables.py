#!/usr/bin/env python3
"""Seeded generator of the engine's query tables (FIXTURES.md section C):
TPC-H-shaped region, nation, customer, supplier, part, orders and lineitem,
plus the events, documents and embeddings tables, one parquet file each,
with the column names and types the `SparkEntry` queries read.

Row counts scale with `sf` like the fixture tables (sf 0.01: 15,000 orders,
~60,000 line items). Documents carry a share of near-duplicates so that the
dedup queries find pairs; embeddings cluster around one centroid per label
so that nearest neighbours are meaningful.

Usage: python3 gen_tables.py <out_dir> --seed N [--sf F]
"""
import argparse
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window order data column join small customer query big stream "
         "group filter vector").split()
LANGS = ["en", "zh", "de", "fr", "es"]
EPOCH_DAY = np.datetime64("1995-01-01")


def write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def generate(out_dir, seed, sf):
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_events = int(1_500_000 * sf), int(1_000_000 * sf)
    n_docs, n_vecs = int(50_000 * sf), max(500, int(20_000 * sf))
    i32, i64, f64 = pa.int32(), pa.int64(), pa.float64()

    write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust), f64),
        "c_mktsegment": rng.choice(
            ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING"], n_cust)})
    write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp), f64)})
    adjectives = ["small", "red", "large", "blue", "green", "old", "shiny", "plain"]
    nouns = ["ring", "widget", "bolt", "gear", "panel", "valve", "hinge", "spring"]
    write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"],
                             n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1), f64)})

    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    to_ts = lambda days: pa.array((EPOCH_DAY + days).astype("datetime64[ms]"))
    write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["O", "P", "F"], n_ord),
        "o_totalprice": pa.array(money(1000.0, 500000.0, n_ord), f64),
        "o_orderdate": to_ts(order_day),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)})

    lines = rng.integers(1, 8, n_ord)
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    l_number = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    write(out_dir, "lineitem", {
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(l_number, i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
        "l_extendedprice": pa.array(money(900.0, 105000.0, n_li), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["O", "F"], n_li),
        "l_shipdate": to_ts(order_day[l_order] + rng.integers(1, 95, n_li))})

    # events: one month of clicks at microsecond resolution, stored as
    # TIMESTAMP(NANOS) like the fixture table
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_events))
    write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array((np.datetime64("2024-01-01T00:00:00", "ns")
                        + ev_us.astype("timedelta64[us]")).astype("datetime64[ns]")),
        "user_id": pa.array(rng.integers(0, max(100, int(15_000 * sf)), n_events), i64),
        "event_type": rng.choice(["error", "view", "purchase", "signup", "click"], n_events),
        "value": pa.array(np.round(rng.exponential(40.0, n_events), 2), f64),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]})

    # documents: bag-of-words texts; 8% are near-copies of an earlier
    # document with a few words replaced, 1% exact copies
    texts = []
    for i in range(n_docs):
        r = rng.random()
        if i > 0 and r < 0.09:
            src = texts[rng.integers(0, i)].split()
            if r >= 0.01:
                for j in rng.integers(0, len(src), max(1, len(src) // 20)):
                    src[j] = WORDS[rng.integers(0, len(WORDS))]
            texts.append(" ".join(src))
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(8, 100))))
    write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=[0.41, 0.15, 0.14, 0.15, 0.15]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    labels = rng.integers(0, 10, n_vecs)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] + rng.normal(0.0, 1.2, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.01)
    a = ap.parse_args()
    generate(a.out_dir, a.seed, a.sf)
