"""Seeded generator for the query-suite input tables.

Writes the ten tables `graft.queries.Queries` reads (lineitem, orders,
customer, supplier, part, nation, region, events, documents, embeddings),
one single-file parquet each, with the column names and types of the
TPC-H-like star schema the queries and their DuckDB oracle expect. It also
writes `documents_truth.parquet`: the planted near-duplicate family of every
document, used to score `dedup_clusters` (pair recall and precision).

Usage: python3 gen_tables.py <out_dir> <seed> <scale>
  scale 1.0 = 500 documents, 60,000 lineitem rows.
"""
import datetime
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
         "hash", "a", "the", "line", "sort", "window", "merge", "batch", "spark",
         "small", "order", "data", "column", "join", "customer", "query", "big",
         "stream", "filter", "group", "vector", "index"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
PART_WORDS = ["small", "red", "blue", "large", "green"]
PART_NOUNS = ["ring", "widget", "bolt", "gear", "spring"]
PART_TYPES = ["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def write(out_dir, name, columns, schema):
    table = pa.table(columns, schema=schema)
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


def documents(rng, n):
    """Originals are random texts over VOCAB; about a third of the later
    documents copy an earlier one with 0-2 word substitutions."""
    words, family = [], []
    n_base = max(1, n * 2 // 3)
    for i in range(n):
        if i >= n_base:
            src = rng.randrange(n_base)
            w = list(words[src])
            for _ in range(rng.randrange(3)):
                w[rng.randrange(len(w))] = rng.choice(VOCAB)
            words.append(w)
            family.append(family[src])
        else:
            words.append([rng.choice(VOCAB) for _ in range(rng.randint(10, 99))])
            family.append(i)
    texts = [" ".join(w) for w in words]
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in range(n)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n)],
        "n_chars": [len(t) for t in texts],
    }, family


def main(out_dir, seed, scale):
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_docs = max(50, int(500 * scale))
    n_orders = max(100, int(15000 * scale))
    n_cust = max(20, int(1500 * scale))
    n_supp = max(10, int(100 * scale))
    n_part = max(20, int(2000 * scale))
    n_events = max(100, int(10000 * scale))
    n_emb = max(50, int(500 * scale))

    write(out_dir, "region", {"r_regionkey": list(range(5)), "r_name": REGIONS},
          pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]))
    write(out_dir, "nation", {
        "n_nationkey": list(range(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": [i % 5 for i in range(25)],
    }, pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                  ("n_regionkey", pa.int32())]))
    write(out_dir, "customer", {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": [rng.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_cust)],
        "c_mktsegment": [rng.choice(SEGMENTS) for _ in range(n_cust)],
    }, pa.schema([("c_custkey", pa.int64()), ("c_name", pa.string()),
                  ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                  ("c_mktsegment", pa.string())]))
    write(out_dir, "supplier", {
        "s_suppkey": list(range(n_supp)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": [rng.randrange(25) for _ in range(n_supp)],
        "s_acctbal": [round(rng.uniform(-999, 9999), 2) for _ in range(n_supp)],
    }, pa.schema([("s_suppkey", pa.int64()), ("s_name", pa.string()),
                  ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64())]))
    write(out_dir, "part", {
        "p_partkey": list(range(n_part)),
        "p_name": [f"{rng.choice(PART_WORDS)} {rng.choice(PART_NOUNS)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{rng.randrange(1, 26)}" for _ in range(n_part)],
        "p_type": [rng.choice(PART_TYPES) for _ in range(n_part)],
        "p_size": [rng.randint(1, 50) for _ in range(n_part)],
        "p_retailprice": [round(900 + (i % 1000) * 0.1, 2) for i in range(n_part)],
    }, pa.schema([("p_partkey", pa.int64()), ("p_name", pa.string()),
                  ("p_brand", pa.string()), ("p_type", pa.string()),
                  ("p_size", pa.int32()), ("p_retailprice", pa.float64())]))

    day0 = datetime.datetime(1995, 1, 1)
    o_dates = [day0 + datetime.timedelta(days=rng.randrange(2400)) for _ in range(n_orders)]
    write(out_dir, "orders", {
        "o_orderkey": list(range(n_orders)),
        "o_custkey": [rng.randrange(n_cust) for _ in range(n_orders)],
        "o_orderstatus": [rng.choice("FOP") for _ in range(n_orders)],
        "o_totalprice": [round(rng.uniform(1000, 500000), 2) for _ in range(n_orders)],
        "o_orderdate": o_dates,
        "o_orderpriority": [rng.choice(PRIORITIES) for _ in range(n_orders)],
    }, pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                  ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                  ("o_orderdate", pa.timestamp("us")), ("o_orderpriority", pa.string())]))

    li = {k: [] for k in ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                          "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                          "l_returnflag", "l_linestatus", "l_shipdate"]}
    for o in range(n_orders):
        for ln in range(1, rng.randint(1, 7) + 1):
            qty = float(rng.randint(1, 50))
            li["l_orderkey"].append(o)
            li["l_partkey"].append(rng.randrange(n_part))
            li["l_suppkey"].append(rng.randrange(n_supp))
            li["l_linenumber"].append(ln)
            li["l_quantity"].append(qty)
            li["l_extendedprice"].append(round(qty * rng.uniform(900, 2100), 2))
            li["l_discount"].append(rng.randint(0, 10) / 100)
            li["l_tax"].append(rng.randint(0, 8) / 100)
            li["l_returnflag"].append(rng.choice("ANR"))
            li["l_linestatus"].append(rng.choice("FO"))
            li["l_shipdate"].append(o_dates[o] + datetime.timedelta(days=rng.randrange(1, 120)))
    write(out_dir, "lineitem", li, pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
        ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()), ("l_shipdate", pa.timestamp("us"))]))

    t0 = datetime.datetime(2024, 1, 1)
    ts = sorted(t0 + datetime.timedelta(seconds=rng.uniform(0, 30 * 86400))
                for _ in range(n_events))
    write(out_dir, "events", {
        "event_id": list(range(n_events)),
        "ts": ts,
        "user_id": [rng.randrange(150) for _ in range(n_events)],
        "event_type": [rng.choice(EVENT_TYPES) for _ in range(n_events)],
        "value": [round(rng.uniform(0.01, 490), 2) for _ in range(n_events)],
        "props": ['{"k": %d}' % rng.randrange(100) for _ in range(n_events)],
    }, pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                  ("user_id", pa.int64()), ("event_type", pa.string()),
                  ("value", pa.float64()), ("props", pa.string())]))

    docs, family = documents(rng, n_docs)
    write(out_dir, "documents", docs, pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]))
    write(out_dir, "documents_truth", {"doc_id": list(range(n_docs)), "family_id": family},
          pa.schema([("doc_id", pa.int64()), ("family_id", pa.int64())]))

    emb = []
    for _ in range(n_emb):
        v = [rng.gauss(0, 1) for _ in range(64)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        emb.append([x / norm for x in v])
    write(out_dir, "embeddings", {
        "vec_id": list(range(n_emb)),
        "embedding": emb,
        "label": [rng.randrange(10) for _ in range(n_emb)],
    }, pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                  ("label", pa.int32())]))


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), float(sys.argv[3]))
