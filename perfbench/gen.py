"""Seeded generator for the benchmark's input tables.

Writes the ten tables graft reads (the star schema, `events`, `documents`,
`embeddings`) as one parquet file each, with the same column names and
types as the project's fixture data. Every random draw comes from one
`numpy.random.Generator` seeded by the caller, so a seed fully determines
the files.

The shape parameters (sizes, key skew, late-event share, planted
duplicate rates) are per workload; see `workloads.json`.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Defaults reproduce the fixture data at sf0.1 (see tests/test_gen.py).
DEFAULTS = {
    "customers": 15000,
    "suppliers": 1000,
    "parts": 20000,
    "orders": 150000,
    "lineitems": 600000,
    "events": 100000,
    "users": 1500,
    "documents": 5000,
    "embeddings": 2000,
    "embedding_dim": 64,
    # Zipf exponent for events.user_id; 0 draws users uniformly.
    "user_skew": 0.0,
    # Share of events whose ts is pulled back by up to `late_max_s`
    # seconds, so they arrive out of event-time order.
    "late_share": 0.0,
    "late_max_s": 3600.0,
    # Share of documents replaced by an earlier document's text, either
    # verbatim (exact) or with " dup" appended (near).
    "exact_dup_rate": 0.0,
    "near_dup_rate": 0.05,
}

VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "cold", "green", "old"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "plate"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

US = 1_000_000
DAY_US = 86_400 * US
ORDER_START = dt.datetime(1995, 1, 1)
ORDER_DAYS = (dt.datetime(2001, 8, 1) - ORDER_START).days
EVENT_START = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * DAY_US


def _epoch_us(d: dt.datetime) -> int:
    return int((d - dt.datetime(1970, 1, 1)).total_seconds()) * US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_schema(rng, p):
    nc, ns, np_, no, nl = (p["customers"], p["suppliers"], p["parts"],
                           p["orders"], p["lineitems"])
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    customer = pa.table({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)]})
    supplier = pa.table({
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    part = pa.table({
        "p_partkey": np.arange(np_, dtype="int64"),
        "p_name": np.array(names)[rng.integers(0, len(names), np_)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, np_)],
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 1)})
    order_day = rng.integers(0, ORDER_DAYS + 1, no)
    orders = pa.table({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts(_epoch_us(ORDER_START) + order_day * DAY_US),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)]})
    okey = rng.integers(0, no, nl)
    ship_day = order_day[okey] + rng.integers(1, 96, nl)
    lineitem = pa.table({
        "l_orderkey": okey.astype("int64"),
        "l_partkey": rng.integers(0, np_, nl).astype("int64"),
        "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
        "l_shipdate": _ts(_epoch_us(ORDER_START) + ship_day * DAY_US)})
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders,
            "lineitem": lineitem}


def user_ids(rng, n, users, skew):
    if skew <= 0:
        return rng.integers(0, users, n)
    w = 1.0 / np.arange(1, users + 1) ** skew
    # Random rank-to-user mapping, so the hot users are not simply 0, 1, ...
    return rng.permutation(users)[rng.choice(users, n, p=w / w.sum())]


def events(rng, p):
    n = p["events"]
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, n))
    late = rng.random(n) < p["late_share"]
    ts = ts - late * rng.integers(0, int(p["late_max_s"] * US) + 1, n)
    ts = np.maximum(ts, 0) + _epoch_us(EVENT_START)
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": _ts(ts),
        "user_id": user_ids(rng, n, p["users"], p["user_skew"]).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})


def documents(rng, p):
    n = p["documents"]
    vocab = np.array(VOCAB)
    lens = rng.integers(10, 101, n)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), k)]) for k in lens]
    kind = rng.random(n)
    exact = kind < p["exact_dup_rate"]
    near = (~exact) & (kind < p["exact_dup_rate"] + p["near_dup_rate"])
    for i in range(1, n):
        if exact[i] or near[i]:
            src = texts[int(rng.integers(0, i))]
            texts[i] = src if exact[i] else src + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})


def embeddings(rng, p):
    n, d = p["embeddings"], p["embedding_dim"]
    m = rng.standard_normal((n, d)).astype("float32")
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype="int64"),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32())})


def generate(out_dir: str, seed: int, **overrides) -> dict:
    """Write every table under `out_dir`; return the parameters used."""
    unknown = set(overrides) - set(DEFAULTS)
    if unknown:
        raise ValueError(f"unknown generator parameters: {sorted(unknown)}")
    p = {**DEFAULTS, **overrides}
    rng = np.random.default_rng(seed)
    tables = star_schema(rng, p)
    tables["events"] = events(rng, p)
    tables["documents"] = documents(rng, p)
    tables["embeddings"] = embeddings(rng, p)
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return p

