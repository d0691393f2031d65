"""Seeded generator for the benchmark's input tables.

Writes one parquet file per table, with the same schemas and value ranges as
the TPC-H-ish fixture set the engine's queries are written against
(region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings). Row counts scale with `sf` the way the fixture set
does (sf 0.1: 600k lineitem, 150k orders, 100k events). The same seed always
gives byte-identical inputs; nothing else feeds the engine.

Unlike the fixtures, `(l_orderkey, l_linenumber)` is unique here, so lineitem
can serve as a primary-keyed upsert target.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "red", "small", "green", "old"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

DAY_US = 86_400_000_000
EPOCH_1995_US = 788_918_400_000_000   # 1995-01-01T00:00:00Z
EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
ORDER_DAYS = 2404                      # 1995-01-01 .. 2001-08-01


def _cents(rng, lo, hi, n):
    """Two-decimal doubles in [lo, hi]: exact sums survive DECIMAL casts."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _names(prefix, keys):
    return pa.array([f"{prefix}#{k:09d}" for k in keys.tolist()])


def _pick(choices, idx):
    return pa.array(np.asarray(choices, dtype=object)[idx])


def counts(sf):
    return {
        "customer": int(150_000 * sf), "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "events": int(1_000_000 * sf), "users": max(150, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def build(name, sf, seed):
    """One table as a pyarrow Table. Each table draws from its own stream, so
    generating a subset gives the same rows as generating all of them."""
    rng = np.random.default_rng([seed, TABLES.index(name)])
    c = counts(sf)
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                         "r_name": pa.array(REGIONS)})
    if name == "nation":
        k = np.arange(25, dtype=np.int32)
        return pa.table({"n_nationkey": k,
                         "n_name": pa.array([f"NATION_{i}" for i in k]),
                         "n_regionkey": k % 5})
    if name == "customer":
        n = c["customer"]
        k = np.arange(n, dtype=np.int64)
        return pa.table({
            "c_custkey": k, "c_name": _names("Customer", k),
            "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, n),
            "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n))})
    if name == "supplier":
        n = c["supplier"]
        k = np.arange(n, dtype=np.int64)
        return pa.table({
            "s_suppkey": k, "s_name": _names("Supplier", k),
            "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, n)})
    if name == "part":
        n = c["part"]
        k = np.arange(n, dtype=np.int64)
        adj = np.asarray(PART_ADJ, dtype=object)[rng.integers(0, 8, n)]
        noun = np.asarray(PART_NOUN, dtype=object)[rng.integers(0, 8, n)]
        return pa.table({
            "p_partkey": k, "p_name": pa.array(adj + " " + noun),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": _pick(PART_TYPES, rng.integers(0, 6, n)),
            "p_size": rng.integers(1, 51, n, dtype=np.int32),
            "p_retailprice": 900.0 + (k % 1000) / 10.0})
    if name == "orders":
        n = c["orders"]
        return pa.table({
            "o_orderkey": np.arange(n, dtype=np.int64),
            "o_custkey": rng.integers(0, c["customer"], n, dtype=np.int64),
            "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, n)),
            "o_totalprice": _cents(rng, 1000.0, 500000.0, n),
            "o_orderdate": _ts(EPOCH_1995_US
                               + rng.integers(0, ORDER_DAYS, n) * DAY_US),
            "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n))})
    if name == "lineitem":
        n_orders = c["orders"]
        lines = rng.integers(1, 8, n_orders)          # 1..7 lines, mean 4
        okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
        n = len(okey)
        start = np.cumsum(lines) - lines
        lnum = (np.arange(n) - np.repeat(start, lines) + 1).astype(np.int32)
        pkey = rng.integers(0, c["part"], n, dtype=np.int64)
        qty = rng.integers(1, 51, n).astype(np.float64)
        price = np.round(qty * (900.0 + (pkey % 1000) / 10.0)
                         * rng.integers(100, 211, n) / 100.0, 2)
        ship = (EPOCH_1995_US + 86_400_000_000
                + rng.integers(0, ORDER_DAYS + 95, n) * DAY_US)
        return pa.table({
            "l_orderkey": okey, "l_partkey": pkey,
            "l_suppkey": rng.integers(0, c["supplier"], n, dtype=np.int64),
            "l_linenumber": lnum, "l_quantity": qty,
            "l_extendedprice": price,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, n)),
            "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, n)),
            "l_shipdate": _ts(ship)})
    if name == "events":
        n = c["events"]
        ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + EPOCH_2024_US
        return pa.table({
            "event_id": np.arange(n, dtype=np.int64), "ts": _ts(ts),
            "user_id": rng.integers(0, c["users"], n, dtype=np.int64),
            "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n)),
            "value": _cents(rng, 0.01, 500.0, n),
            "props": pa.array([f'{{"k": {v}}}'
                               for v in rng.integers(0, 100, n).tolist()])})
    if name == "documents":
        n = c["documents"]
        words = np.asarray(VOCAB, dtype=object)
        lens = rng.integers(8, 90, n)
        text = [" ".join(words[rng.integers(0, len(VOCAB), m)]) for m in lens]
        return pa.table({
            "doc_id": np.arange(n, dtype=np.int64), "text": pa.array(text),
            "lang": _pick(LANGS, rng.choice(5, n, p=LANG_P)),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": np.array([len(t) for t in text], dtype=np.int64)})
    if name == "embeddings":
        n, dim = c["embeddings"], 64
        v = rng.standard_normal((n, dim)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        emb = pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
            pa.array(v.reshape(-1), pa.float32()))
        return pa.table({"vec_id": np.arange(n, dtype=np.int64),
                         "embedding": emb,
                         "label": rng.integers(0, 10, n, dtype=np.int32)})
    raise ValueError(f"unknown table {name}")


def generate(out_dir, tables, sf, seed):
    os.makedirs(out_dir, exist_ok=True)
    for name in tables:
        pq.write_table(build(name, sf, seed),
                       os.path.join(out_dir, f"{name}.parquet"))
