"""Deterministic generator for the query workloads' input tables.

Writes the ten tables the query registry reads (`region` ... `embeddings`),
one Parquet file each, with the column names, physical types and value
distributions of the TPC-H-ish star schema plus the `events`, `documents`
and `embeddings` extension tables that `graft.SparkEntry.queries` expects.
The same (scale, seed) always yields byte-identical files, so the golden
result hashes in `goldens.json` stay valid from run to run.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
EMBED_DIM = 64
DUP_FRAC = 0.05


def _days(start, n, rng, size):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n, size).astype("timedelta64[D]")


def tables(sf, seed):
    """Return {name: pyarrow.Table} for scale factor `sf`."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_user = max(1, int(15_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS, s)})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), s)})
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2), f64)})
    pk = np.arange(n_part)
    names = [f"{a} {n}" for a in ADJECTIVES for n in NOUNS]
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, i64),
        "p_name": pa.array(rng.choice(names, n_part), s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part), s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1), f64)})
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500_000, n_ord), 2), f64),
        "o_orderdate": pa.array(_days("1995-01-01", 2405, rng, n_ord), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), s)})
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, n_line), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), s),
        "l_shipdate": pa.array(_days("1995-01-02", 2499, rng, n_line), ts)})
    # a 30-day event stream in event_id order, microsecond timestamps
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.choice(span_us, n_evt, replace=False))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs.astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_evt), s),
        "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)], s)})
    # documents: random word strings; DUP_FRAC of them are another
    # document's text plus one extra word (the near-duplicates the
    # dedup queries look for)
    lens = rng.integers(10, 101, n_doc)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lens]
    dup = rng.random(n_doc) < DUP_FRAC
    src = rng.integers(0, n_doc, n_doc)
    texts = [texts[src[i]] + " dup" if dup[i] and src[i] != i else texts[i]
             for i in range(n_doc)]
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, n_doc, p=LANG_P), s),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    vecs = rng.standard_normal((n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return out


def write(directory, sf, seed):
    """Generate every table into `directory`/<name>.parquet."""
    os.makedirs(directory, exist_ok=True)
    for name, table in tables(sf, seed).items():
        pq.write_table(table, os.path.join(directory, f"{name}.parquet"))
