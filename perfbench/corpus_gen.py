"""Seeded synthetic tables for the operators workload.

``generate(out_dir, seed=S)`` writes one parquet file per table that the
``plans.oracle_suite`` queries read, in the column names and types of the
repository's TPC-H-like test tables: region, nation, customer, supplier, part,
orders, lineitem, events, documents and embeddings. Sizes are fixed (about
scale factor 0.01); the seed changes every value.

Documents include exact and near duplicates, so the dedup queries have
work to do; purchases and views share users, so the as-of join matches.
Money values carry two decimals and dates are whole days, as in the test
tables, so Spark and DuckDB agree after each query's own rounding.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
        "events": 10000, "documents": 500, "embeddings": 500}
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_WORDS = ("small", "red", "blue", "steel", "ring", "widget", "bolt", "gear")
PART_TYPES = ("ECONOMY", "SMALL", "LARGE", "STANDARD", "PROMO")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DOC_WORDS = ("a", "agg", "batch", "big", "column", "customer", "data",
             "fast", "filter", "group", "hash", "join", "key", "line",
             "merge", "order", "part", "query", "row", "scan", "slow",
             "small", "sort", "spark", "stream", "table", "the", "value",
             "vector", "window")
EMBED_DIM = 64
ORDER_DAY0 = dt.datetime(1995, 1, 1)
EVENT_T0 = dt.datetime(2024, 1, 1)


def _money(rnd: random.Random, lo: float, hi: float) -> float:
    return round(rnd.uniform(lo, hi), 2)


def _write(out_dir: str, name: str, columns: dict, types: dict) -> int:
    table = pa.table({c: pa.array(v, type=types[c])
                      for c, v in columns.items()})
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def generate(out_dir: str, *, seed: int) -> dict[str, int]:
    """Write the tables under ``out_dir``; returns rows per table."""
    rnd = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    rows = {}

    rows["region"] = _write(out_dir, "region", {
        "r_regionkey": list(range(len(REGIONS))), "r_name": list(REGIONS)},
        {"r_regionkey": i32, "r_name": s})
    rows["nation"] = _write(out_dir, "nation", {
        "n_nationkey": list(range(25)),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": [k % len(REGIONS) for k in range(25)]},
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32})

    n_cust = ROWS["customer"]
    rows["customer"] = _write(out_dir, "customer", {
        "c_custkey": list(range(n_cust)),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": [rnd.randrange(25) for _ in range(n_cust)],
        "c_acctbal": [_money(rnd, -999, 9999) for _ in range(n_cust)],
        "c_mktsegment": [rnd.choice(SEGMENTS) for _ in range(n_cust)]},
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32,
         "c_acctbal": f64, "c_mktsegment": s})

    n_supp = ROWS["supplier"]
    rows["supplier"] = _write(out_dir, "supplier", {
        "s_suppkey": list(range(n_supp)),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": [rnd.randrange(25) for _ in range(n_supp)],
        "s_acctbal": [_money(rnd, -999, 9999) for _ in range(n_supp)]},
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32,
         "s_acctbal": f64})

    n_part = ROWS["part"]
    price = [_money(rnd, 900, 2000) for _ in range(n_part)]
    rows["part"] = _write(out_dir, "part", {
        "p_partkey": list(range(n_part)),
        "p_name": [" ".join(rnd.sample(PART_WORDS, 2))
                   for _ in range(n_part)],
        "p_brand": [f"Brand#{rnd.randrange(1, 26)}" for _ in range(n_part)],
        "p_type": [rnd.choice(PART_TYPES) for _ in range(n_part)],
        "p_size": [rnd.randrange(1, 51) for _ in range(n_part)],
        "p_retailprice": price},
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s,
         "p_size": i32, "p_retailprice": f64})

    orders = {c: [] for c in ("o_orderkey", "o_custkey", "o_orderstatus",
                              "o_totalprice", "o_orderdate",
                              "o_orderpriority")}
    li = {c: [] for c in ("l_orderkey", "l_partkey", "l_suppkey",
                          "l_linenumber", "l_quantity", "l_extendedprice",
                          "l_discount", "l_tax", "l_returnflag",
                          "l_linestatus", "l_shipdate")}
    for ok in range(ROWS["orders"]):
        odate = ORDER_DAY0 + dt.timedelta(days=rnd.randrange(2400))
        total = 0.0
        for ln in range(1, rnd.randrange(1, 8) + 1):
            pk, qty = rnd.randrange(n_part), float(rnd.randrange(1, 51))
            ext = round(qty * price[pk], 2)
            total += ext
            for c, v in (("l_orderkey", ok), ("l_partkey", pk),
                         ("l_suppkey", rnd.randrange(n_supp)),
                         ("l_linenumber", ln), ("l_quantity", qty),
                         ("l_extendedprice", ext),
                         ("l_discount", rnd.randrange(11) / 100),
                         ("l_tax", rnd.randrange(9) / 100),
                         ("l_returnflag", rnd.choice("ANR")),
                         ("l_linestatus", rnd.choice("FO")),
                         ("l_shipdate", odate + dt.timedelta(
                             days=rnd.randrange(1, 122)))):
                li[c].append(v)
        for c, v in (("o_orderkey", ok), ("o_custkey", rnd.randrange(n_cust)),
                     ("o_orderstatus", rnd.choice("FOP")),
                     ("o_totalprice", round(total, 2)),
                     ("o_orderdate", odate),
                     ("o_orderpriority", rnd.choice(PRIORITIES))):
            orders[c].append(v)
    rows["orders"] = _write(out_dir, "orders", orders, {
        "o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s,
        "o_totalprice": f64, "o_orderdate": ts, "o_orderpriority": s})
    rows["lineitem"] = _write(out_dir, "lineitem", li, {
        "l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64,
        "l_linenumber": i32, "l_quantity": f64, "l_extendedprice": f64,
        "l_discount": f64, "l_tax": f64, "l_returnflag": s,
        "l_linestatus": s, "l_shipdate": ts})

    n_ev, t = ROWS["events"], EVENT_T0
    stamps = []
    for _ in range(n_ev):
        t += dt.timedelta(microseconds=rnd.randrange(1, 520_000_000))
        stamps.append(t)
    rows["events"] = _write(out_dir, "events", {
        "event_id": list(range(n_ev)), "ts": stamps,
        "user_id": [rnd.randrange(150) for _ in range(n_ev)],
        "event_type": [rnd.choice(EVENT_TYPES) for _ in range(n_ev)],
        "value": [_money(rnd, 0, 50) for _ in range(n_ev)],
        "props": [f'{{"k": {rnd.randrange(100)}}}' for _ in range(n_ev)]},
        {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s,
         "value": f64, "props": s})

    texts = []
    for k in range(ROWS["documents"]):
        roll = rnd.random()
        if texts and roll < 0.1:  # exact duplicate of an earlier document
            text = rnd.choice(texts)
        elif texts and roll < 0.2:  # near duplicate: one word replaced
            words = rnd.choice(texts).split()
            words[rnd.randrange(len(words))] = rnd.choice(DOC_WORDS)
            text = " ".join(words)
        else:
            text = " ".join(rnd.choice(DOC_WORDS)
                            for _ in range(rnd.randrange(20, 80)))
        texts.append(text)
    rows["documents"] = _write(out_dir, "documents", {
        "doc_id": list(range(len(texts))), "text": texts,
        "lang": ["en"] * len(texts),
        "source": [f"src{rnd.randrange(20)}" for _ in texts],
        "n_chars": [len(x) for x in texts]},
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64})

    vecs = []
    for _ in range(ROWS["embeddings"]):
        v = [rnd.gauss(0, 1) for _ in range(EMBED_DIM)]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
    rows["embeddings"] = _write(out_dir, "embeddings", {
        "vec_id": list(range(len(vecs))), "embedding": vecs,
        "label": [rnd.randrange(10) for _ in vecs]},
        {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32})
    return rows
