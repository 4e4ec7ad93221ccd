"""Seeded input generator for the benchmark.

Writes the ten tables the program reads (TPC-H-like star schema plus
events, documents and embeddings) as one parquet file with one row group
each, with the same schema, value domains and physical encodings as the
repository's synthetic test data. Every value comes from a numpy
generator keyed by the seed, so the same seed gives the same bytes and
a different seed gives different data of the same shape and size (the
scan parallelism does not change with the seed). Table sizes are SCALE
times those of TPC-H scale factor 1.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
COLORS = "blue cold hot large new old red small".split()
THINGS = "anvil bolt gear gizmo plate ring rod widget".split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS, LANG_P = ["en", "de", "es", "fr", "zh"], [0.4, 0.15, 0.15, 0.15, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ORDER_DAY0, ORDER_DAYS, MAX_SHIP_LAG = dt.datetime(1995, 1, 1), 2404, 95
EVENT_T0, EVENT_SPAN_S = dt.datetime(2024, 1, 1), 30 * 86400
SCALE = 0.01


def sizes(scale):
    def n(base, floor=1):
        return max(floor, int(round(base * scale)))
    return {"customer": n(150000), "supplier": n(10000), "part": n(200000),
            "orders": n(1500000), "lineitem": n(6000000), "events": n(1000000),
            "users": n(15000), "documents": n(50000, 500), "embeddings": n(20000, 500)}


def money(rng, lo, hi, k):
    return np.round(rng.uniform(lo, hi, k), 2)


def days(day0, offsets):
    base = np.datetime64(day0, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def pick(rng, values, k, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), k, p=p)], pa.string())


def tables(seed, scale):
    rng = np.random.default_rng(seed)
    sz = sizes(scale)
    nc, ns, np_, no, nl = (sz[t] for t in ("customer", "supplier", "part", "orders", "lineitem"))
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": pa.array(REGIONS, pa.string())})
    out["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                              "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                              "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": money(rng, -1000, 10000, nc),
        "c_mktsegment": pick(rng, SEGMENTS, nc)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": money(rng, -1000, 10000, ns)})
    names = [f"{c} {t}" for c in COLORS for t in THINGS]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_), pa.int64()),
        "p_name": pick(rng, names, np_),
        "p_brand": pick(rng, [f"Brand#{i}" for i in range(1, 26)], np_),
        "p_type": pick(rng, PTYPES, np_),
        "p_size": pa.array(rng.integers(1, 51, np_), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 2)})
    okeys = rng.permutation(no)
    out["orders"] = pa.table({
        "o_orderkey": pa.array(okeys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": pick(rng, ["F", "O", "P"], no),
        "o_totalprice": money(rng, 1000, 500000, no),
        "o_orderdate": days(ORDER_DAY0, rng.integers(0, ORDER_DAYS + 1, no)),
        "o_orderpriority": pick(rng, PRIORITIES, no)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, np_, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": pick(rng, ["F", "O"], nl),
        "l_shipdate": days(ORDER_DAY0, rng.integers(0, ORDER_DAYS + 1, nl)
                           + rng.integers(1, MAX_SHIP_LAG + 1, nl))})
    ne = sz["events"]
    gaps = rng.exponential(EVENT_SPAN_S / ne, ne)
    offs_us = np.minimum(np.cumsum(gaps), EVENT_SPAN_S - 1) * 1e6
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(np.datetime64(EVENT_T0, "us") + offs_us.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, sz["users"], ne), pa.int64()),
        "event_type": pick(rng, EVENT_TYPES, ne),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], pa.string())})
    nd = sz["documents"]
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), rng.integers(10, 101))]) for _ in range(nd)]
    # about 5% near-duplicates: another document's text plus a marker word
    for i in np.flatnonzero(rng.random(nd) < 0.05):
        texts[i] = texts[int(rng.integers(0, nd))] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pick(rng, LANGS, nd, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(nd)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = sz["embeddings"]
    vecs = rng.standard_normal((nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return out


def generate(out_dir, seed):
    """Writes the tables and `rows.json` (rows per table) into out_dir, atomically."""
    tmp = out_dir + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    rows = {}
    for name, t in tables(seed, SCALE).items():
        pq.write_table(t, os.path.join(tmp, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows), compression="snappy")
        rows[name] = t.num_rows
    with open(os.path.join(tmp, "rows.json"), "w") as f:
        json.dump(rows, f)
    os.replace(tmp, out_dir)
    return rows

