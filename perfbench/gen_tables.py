#!/usr/bin/env python3
"""Seeded generator for the ten TESTDATA-shaped Parquet tables.

Usage: python3 perfbench/gen_tables.py <out_dir> <seed> <sf>

Schemas, encodings and value domains follow FIXTURES.md section A and the
distributions of the seed-42 fixture the queries were written against:
uniform keys and categories, two-decimal money, midnight order/ship dates,
Poisson-spaced event timestamps over 30 days, exponential event values,
and a 30-word document vocabulary with 5% near-duplicate (" dup") and a
few exact-duplicate documents. Row counts scale with `sf` the way the
fixture's do (lineitem = 6M * sf). No NULLs, like the fixture. All ten
tables are written because tools/check_oracle.py defines a view on each.

The same (seed, sf) always writes byte-identical files.
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "nut", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

DAY_US = 86_400_000_000
EPOCH = np.datetime64("1970-01-01", "D")


def days(s):
    return int((np.datetime64(s, "D") - EPOCH).astype(np.int64))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def midnight_ts(day_numbers):
    return pa.array(day_numbers.astype(np.int64) * DAY_US, pa.timestamp("us"))


def write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"),
                   compression="snappy")


def pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), n, p=p)], pa.string())


def generate(out_dir, seed, sf):
    rng = np.random.default_rng(seed)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_line, n_event = int(6_000_000 * sf), int(1_000_000 * sf)
    n_part, n_supp = int(200_000 * sf), int(10_000 * sf)
    n_user, n_doc, n_vec = int(15_000 * sf), int(50_000 * sf), int(20_000 * sf)
    os.makedirs(out_dir, exist_ok=True)

    write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string())})
    write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write(out_dir, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(rng, SEGMENTS, n_cust)})
    write(out_dir, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp))})
    adj = rng.integers(0, len(PART_ADJ), n_part)
    noun = rng.integers(0, len(PART_NOUN), n_part)
    write(out_dir, "part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}"
                            for a, b in zip(adj, noun)]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(
            900 + (np.arange(n_part) % 1000) / 10, 2))})
    write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": midnight_ts(rng.integers(
            days("1995-01-01"), days("2001-08-01") + 1, n_ord)),
        "o_orderpriority": pick(rng, PRIORITIES, n_ord)})
    write(out_dir, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": pick(rng, ["F", "O"], n_line),
        "l_shipdate": midnight_ts(rng.integers(
            days("1995-01-02"), days("2001-11-04") + 1, n_line))})
    gaps = rng.exponential(30 * DAY_US / n_event, n_event)
    write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_event, dtype=np.int64)),
        "ts": pa.array(days("2024-01-01") * DAY_US +
                       np.cumsum(gaps).astype(np.int64), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_event, dtype=np.int64)),
        "event_type": pick(rng, EVENT_TYPES, n_event),
        "value": pa.array(np.round(rng.exponential(50.0, n_event), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_event)])})
    texts = []
    for i in range(n_doc):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            words = rng.integers(0, len(VOCAB), rng.integers(10, 101))
            texts.append(" ".join(VOCAB[w] for w in words))
    write(out_dir, "documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pick(rng, LANGS, n_doc, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64))})
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    write(out_dir, "embeddings", {
        "vec_id": pa.array(np.arange(n_vec, dtype=np.int64)),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec, dtype=np.int32))})
    return {"customer": n_cust, "orders": n_ord, "lineitem": n_line,
            "events": n_event, "documents": n_doc, "embeddings": n_vec,
            "part": n_part, "supplier": n_supp, "nation": 25, "region": 5}


if __name__ == "__main__":
    print(generate(sys.argv[1], int(sys.argv[2]), float(sys.argv[3])))
