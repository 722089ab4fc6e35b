"""Seeded generator for the ten tables the batch gates read.

The tables follow the schema and value ranges of the star-schema test data
the gates were written against (region, nation, customer, supplier, part,
orders, lineitem, events, documents, embeddings) at the smallest shape
(6000 lineitems). The same seed always writes the same files.

Usage: python3 perfbench/gen_tables.py <out_dir> <seed>
"""
import datetime as dt
import math
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJECTIVES = ["red", "small", "hot", "old", "large", "cold", "blue", "new"]
NOUNS = ["plate", "widget", "ring", "rod", "gear", "bolt", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 4 + ["de", "es", "fr", "zh"]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]


def _day(rng, start, days):
    return start + dt.timedelta(days=rng.randrange(days))


def tables(seed):
    rng = random.Random(seed)
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_line, n_ev = 1500, 6000, 1000
    n_users = 15
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([rng.randrange(25) for _ in range(n_cust)],
                                pa.int32()),
        "c_acctbal": [round(rng.uniform(-999.99, 9999.99), 2)
                      for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([rng.randrange(25) for _ in range(n_supp)],
                                pa.int32()),
        "s_acctbal": [round(rng.uniform(-999.99, 9999.99), 2)
                      for _ in range(n_supp)]})
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{rng.choice(ADJECTIVES)} {rng.choice(NOUNS)}"
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)],
        "p_type": [rng.choice(PART_TYPES) for _ in range(n_part)],
        "p_size": pa.array([rng.randrange(1, 51) for _ in range(n_part)],
                           pa.int32()),
        "p_retailprice": [900 + (i % 1000) / 10 for i in range(n_part)]})
    ts = pa.timestamp("us")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([rng.randrange(n_cust) for _ in range(n_ord)],
                              pa.int64()),
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_ord)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2)
                         for _ in range(n_ord)],
        "o_orderdate": pa.array(
            [_day(rng, dt.datetime(1995, 1, 1), 2404) for _ in range(n_ord)],
            ts),
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_ord)]})
    qty = [float(rng.randrange(1, 51)) for _ in range(n_line)]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array([rng.randrange(n_ord) for _ in range(n_line)],
                               pa.int64()),
        "l_partkey": pa.array([rng.randrange(n_part) for _ in range(n_line)],
                              pa.int64()),
        "l_suppkey": pa.array([rng.randrange(n_supp) for _ in range(n_line)],
                              pa.int64()),
        "l_linenumber": pa.array([rng.randrange(1, 8) for _ in range(n_line)],
                                 pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": [round(q * rng.uniform(900, 2100), 2)
                            for q in qty],
        "l_discount": [rng.randrange(11) / 100 for _ in range(n_line)],
        "l_tax": [rng.randrange(9) / 100 for _ in range(n_line)],
        "l_returnflag": [rng.choice("RAN") for _ in range(n_line)],
        "l_linestatus": [rng.choice("OF") for _ in range(n_line)],
        "l_shipdate": pa.array(
            [_day(rng, dt.datetime(1995, 1, 2), 2499) for _ in range(n_line)],
            ts)})
    ev_start = dt.datetime(2024, 1, 1)
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(sorted(
            ev_start + dt.timedelta(microseconds=rng.randrange(30 * 86400 * 10**6))
            for _ in range(n_ev)), ts),
        "user_id": pa.array([rng.randrange(n_users) for _ in range(n_ev)],
                            pa.int64()),
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_ev)],
        "value": [round(rng.uniform(0.01, 490.02), 2) for _ in range(n_ev)],
        "props": [f'{{"k": {rng.randrange(100)}}}' for _ in range(n_ev)]})
    texts = []
    for i in range(500):
        if texts and rng.random() < 0.06:
            # near-duplicate of an earlier document: one word swapped
            words = rng.choice(texts).split(" ")
            words[rng.randrange(len(words))] = rng.choice(WORDS)
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS)
                                  for _ in range(rng.randrange(10, 90))))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(500), pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(500)],
        "source": [f"src{rng.randrange(20)}" for _ in range(500)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = []
    for _ in range(500):
        v = [rng.gauss(0, 1) for _ in range(64)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(500), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array([rng.randrange(10) for _ in range(500)], pa.int32())})
    return out


def write(out_dir, seed):
    import os
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


if __name__ == "__main__":
    write(sys.argv[1], int(sys.argv[2]))
