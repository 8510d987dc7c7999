"""Seeded input tables in the shape graft's queries read.

`write_tables` makes the TPC-H-shaped star schema plus the `events`
stream (lineitem 600,000 rows); `write_corpus` makes `documents` and
`embeddings` (1,000 docs over 20 sources, 400 unit 64-d vectors by
default). Column names, types and value domains follow the
tables the repository's tests describe in TESTDATA.md, so every gated
query and its DuckDB oracle run unchanged. The same seed always gives
byte-identical parquet files.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
PART_NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]

US_PER_DAY = 86_400_000_000


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, first, last, n):
    """Midnight timestamps drawn uniformly from [first, last]."""
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * US_PER_DAY, pa.timestamp("us"))


def _write(out, name, columns):
    pq.write_table(pa.table(columns), os.path.join(out, f"{name}.parquet"))


def write_tables(out, seed):
    """region … lineitem and events, in the row counts of TESTDATA.md's sf0.1."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp, n_part = 15000, 1000, 20000
    n_ord, n_line, n_ev = 150000, 600000, 100000
    i32 = lambda a: pa.array(a, pa.int32())
    i64 = lambda a: pa.array(a, pa.int64())
    f64 = lambda a: pa.array(a, pa.float64())
    _write(out, "region", {"r_regionkey": i32(range(5)), "r_name": pa.array(REGIONS)})
    _write(out, "nation", {
        "n_nationkey": i32(range(25)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": i32([i % 5 for i in range(25)])})
    _write(out, "customer", {
        "c_custkey": i64(np.arange(n_cust)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": f64(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out, "supplier", {
        "s_suppkey": i64(np.arange(n_supp)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": f64(_money(rng, -999.99, 9999.99, n_supp))})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out, "part", {
        "p_partkey": i64(np.arange(n_part)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": f64(np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1))})
    _write(out, "orders", {
        "o_orderkey": i64(np.arange(n_ord)),
        "o_custkey": i64(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": f64(_money(rng, 1000, 500000, n_ord)),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    _write(out, "lineitem", {
        "l_orderkey": i64(rng.integers(0, n_ord, n_line)),
        "l_partkey": i64(rng.integers(0, n_part, n_line)),
        "l_suppkey": i64(rng.integers(0, n_supp, n_line)),
        "l_linenumber": i32(rng.integers(1, 8, n_line)),
        "l_quantity": f64(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": f64(_money(rng, 900, 105000, n_line)),
        "l_discount": f64(rng.integers(0, 11, n_line) / 100),
        "l_tax": f64(rng.integers(0, 9, n_line) / 100),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_line)})
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out, "events", {
        "event_id": i64(np.arange(n_ev)),
        "ts": pa.array(np.sort(start + rng.integers(0, 30 * US_PER_DAY, n_ev)),
                       pa.timestamp("us")),
        "user_id": i64(rng.integers(0, 1500, n_ev)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": f64(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})


def write_corpus(out, seed, n_docs=1000, n_vecs=400, n_sources=20, dup_share=0.05):
    """documents and embeddings. A `dup_share` of the documents repeat an
    earlier document's text with " dup" appended, the near duplicates the
    dedup operators look for."""
    rng = np.random.default_rng([seed, 2])
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(10, 101, n_docs)]
    for i in rng.choice(n_docs, int(n_docs * dup_share), replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _pick(rng, LANGS, n_docs, p=LANG_P),
        "source": pa.array([f"src{i % n_sources}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())})
