"""Seeded generator of the star-schema tables `SparkEntry.queries` read.

One Parquet file per table (`region nation customer supplier part orders
lineitem events documents embeddings`), with the column names and Parquet
types the program's loaders expect (`graft.Tables`): 64-bit keys,
microsecond timestamps without a time zone, `embedding` as a list of
32-bit floats. The shapes follow the test tables the program was built
against: uniform TPC-H-like facts over 1995-2001, a month of events from 150
users, short documents over a small vocabulary with about one in twenty a
near-duplicate of an earlier one (one word dropped or `dup` appended), and
unit-length 64-dimensional embeddings with ten labels.

The same seed gives the same tables, byte for byte in content.
"""

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["join", "hash", "row", "batch", "scan", "customer", "column", "filter", "small",
         "slow", "merge", "order", "vector", "line", "data", "table", "agg", "value", "key",
         "stream", "window", "spark", "a", "group", "part", "big", "sort", "query", "fast",
         "the"]
LANGS = ["en"] * 3 + ["zh", "de", "fr", "es"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["bolt", "gear", "ring", "widget", "rod", "plate", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]

TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]


def _days(rng, n, first, last):
    span = (last - first).days
    d = np.datetime64(first, "us") + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d, type=pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, scale):
    """The ten tables as pyarrow Tables; `scale` 1.0 is 60,000 lineitems."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_line, n_ev = int(15000 * scale), int(60000 * scale), int(10000 * scale)
    n_doc, n_emb = int(500 * scale), int(500 * scale)
    out = {}
    out["region"] = pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                              "r_name": REGIONS})
    out["nation"] = pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                              "n_name": [f"NATION_{i}" for i in range(25)],
                              "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    out["part"] = pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _days(rng, n_ord, datetime.date(1995, 1, 1), datetime.date(2001, 8, 1)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    line_order = np.sort(rng.integers(0, n_ord, n_line))
    linenumber = np.ones(n_line, np.int32)
    for i in range(1, n_line):
        if line_order[i] == line_order[i - 1]:
            linenumber[i] = linenumber[i - 1] + 1
    flags = rng.integers(0, 6, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(line_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(linenumber, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105000),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i // 2] for i in flags],
        "l_linestatus": [("F", "O")[i % 2] for i in flags],
        "l_shipdate": _days(rng, n_line, datetime.date(1995, 1, 2), datetime.date(2001, 11, 4))})
    month_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, month_us, n_ev)) + np.datetime64("2024-01-01", "us")
    out["events"] = pa.table({
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(np.maximum(rng.exponential(50, n_ev), 0.01), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split(" ")
            words = words[:-1] if rng.random() < 0.8 else words + ["dup"]
        else:
            words = [VOCAB[w] for w in rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(range(n_doc), pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_doc)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    vecs = rng.normal(0, 1, (n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})
    return out


def generate(seed, out_dir, scale=1.0):
    """Write the tables to `out_dir/<table>.parquet`; return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(seed, scale).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
