"""Seeded input generator for the graft benchmark.

Writes the ten raw tables graft reads (`<dir>/<table>.parquet`) with the
same schemas, key spaces and value distributions as the engine's
TPC-H-ish test layout, scaled by `sf`. The same (seed, sf) always gives
byte-identical tables.

`split_tail` derives the pipeline's base and held-out batch directories
from a full one: the batch holds the orders of the last `tail_days`
order dates with their line items, and the events of the last
`event_tail_days` days; both directories keep the full master-data
tables (customer, supplier, part, nation, region).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["red", "blue", "green", "black", "white", "small", "large", "shiny"]
NOUNS = ["widget", "bolt", "ring", "anvil", "gear", "valve", "spring", "lever"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "stream filter group big vector").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

DAY_US = 86_400_000_000
ORDER_START = np.datetime64("1995-01-01", "D")
ORDER_DAYS = 2404          # 1995-01-01 .. 2001-08-01
SHIP_START = np.datetime64("1995-01-02", "D")
SHIP_DAYS = 2498
EVENT_START_US = np.datetime64("2024-01-01", "us").astype(np.int64)
EVENT_DAYS = 30
EMB_DIM = 64


def _ts_days(start, days):
    return pa.array((start + days.astype("timedelta64[D]")).astype("datetime64[us]"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, table):
    pq.write_table(table, os.path.join(out, f"{name}.parquet"))


def generate(out, sf, seed, order_days=ORDER_DAYS):
    """Write all tables for scale factor `sf` under `out`; return row counts.

    Order dates spread uniformly over `order_days` days from 1995-01-01.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust = max(150, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1500, round(1_500_000 * sf))
    n_li = 4 * n_ord
    n_ev = max(1000, round(1_000_000 * sf))
    n_users = max(15, n_cust // 10)
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()

    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": REGIONS})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    names = np.array([f"{c} {n}" for c in COLORS for n in NOUNS])
    pk = np.arange(n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{b}" for b in range(1, 26)])[rng.integers(0, 25, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2)})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts_days(ORDER_START, rng.integers(0, order_days, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]})
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_days(SHIP_START, rng.integers(0, SHIP_DAYS, n_li))})
    ts = np.sort(rng.integers(0, EVENT_DAYS * DAY_US, n_ev)) + EVENT_START_US
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ts.astype("datetime64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(n_doc)]
    # planted near-duplicates: 5% of documents copy another document
    # with one extra token
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        toks = texts[int(rng.integers(0, n_doc))].split()
        toks.insert(int(rng.integers(0, len(toks) + 1)), "dup")
        texts[i] = " ".join(toks)
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_doc, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], i64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, EMB_DIM)) * 0.35
    v = rng.normal(0.0, 1.0, (n_emb, EMB_DIM)) + centers[labels]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})
    for name, t in tables.items():
        _write(out, name, t)
    return {name: t.num_rows for name, t in tables.items()}


def split_tail(full, base, batch, tail_days, event_tail_days):
    """Split `full` into a base directory and a held-out batch directory."""
    for d in (base, batch):
        os.makedirs(d, exist_ok=True)
    read = lambda t: pq.read_table(os.path.join(full, f"{t}.parquet"))
    orders = read("orders")
    cut = pc.max(orders["o_orderdate"]).value - (tail_days - 1) * DAY_US
    in_batch = pc.greater_equal(orders["o_orderdate"].cast(pa.int64()), cut)
    batch_keys = orders.filter(in_batch)["o_orderkey"]
    li = read("lineitem")
    li_batch = pc.is_in(li["l_orderkey"], value_set=batch_keys)
    events = read("events")
    ev_cut = EVENT_START_US + (EVENT_DAYS - event_tail_days) * DAY_US
    ev_batch = pc.greater_equal(events["ts"].cast(pa.int64()), ev_cut)
    parts = {
        "orders": (orders.filter(pc.invert(in_batch)), orders.filter(in_batch)),
        "lineitem": (li.filter(pc.invert(li_batch)), li.filter(li_batch)),
        "events": (events.filter(pc.invert(ev_batch)), events.filter(ev_batch)),
    }
    counts = {}
    for t in TABLES:
        b, h = parts.get(t, (read(t), read(t)))
        _write(base, t, b)
        _write(batch, t, h)
        if t in parts:
            counts[t] = {"base": b.num_rows, "batch": h.num_rows}
    return counts
