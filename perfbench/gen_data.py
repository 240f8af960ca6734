"""Deterministic base tables for the benchmark.

Writes the ten tables the engine's query registry reads (region, nation,
customer, supplier, part, orders, lineitem, events, documents, embeddings)
as one parquet file each, with the same column names, types and value ranges
as the sf0.1 testdata the engine is developed against. The tables come from
a FIXED data seed, so the committed expected results in `expected.json` stay
valid; the workload seed (`--seed`) only shapes what the harness does with
them (the query order).

Usage: python3 perfbench/gen_data.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
# bump when the tables change: it keys the on-disk cache and expected.json
DATA_VERSION = "v1-sf0.1"

VOCAB = ("a the spark query merge vector hash window stream join agg sort scan "
         "filter group order line part table row column key value data batch "
         "big small fast slow customer").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PTYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
ADJ = ["blue", "old", "red", "small", "new", "large", "hot", "cold"]
NOUN = ["widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, n_days, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]").astype("timedelta64[us]")


def tables():
    rng = np.random.default_rng(DATA_SEED)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n = 15000
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)]})
    n = 1000
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    n = 20000
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n), pa.int64()),
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
        "p_type": np.array(PTYPES)[rng.integers(0, 6, n)],
        "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n) % 1000) * 0.1, 2)})
    n = 150000
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, 15000, n), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n), pa.timestamp("us")),
        "o_orderpriority": np.array(PRIOS)[rng.integers(0, 5, n)]})
    n = 600000
    flags = rng.integers(0, 6, n)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, 150000, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[flags // 2],
        "l_linestatus": np.array(["O", "F"])[flags % 2],
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n), pa.timestamp("us"))})
    n = 100000
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _money(rng, 0.0, 200.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    out["documents"] = _documents(rng, 5000)
    out["embeddings"] = _embeddings(rng, 2000)
    return out


def _documents(rng, n):
    texts = []
    vocab = np.array(VOCAB)
    for i in range(n):
        texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(8, 90))]))
    # near-duplicate structure for the dedup operators: ~5% one-word edits of
    # an earlier doc, and a handful of exact copies
    for i in rng.choice(np.arange(100, n), n // 20, replace=False):
        words = texts[int(rng.integers(0, i))].split()
        words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(VOCAB))])
        texts[i] = " ".join(words)
    for i in rng.choice(np.arange(100, n), 8, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _embeddings(rng, n, dims=64, labels=10):
    centers = rng.normal(0.0, 0.1, (labels, dims))
    label = rng.integers(0, labels, n)
    vecs = (centers[label] + rng.normal(0.0, 0.1, (n, dims))).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def write(out_dir):
    """Writes the tables into out_dir unless a complete copy is already there."""
    stamp = os.path.join(out_dir, "_VERSION")
    if os.path.exists(stamp) and open(stamp).read() == DATA_VERSION:
        return
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables().items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    with open(stamp, "w") as f:
        f.write(DATA_VERSION)


if __name__ == "__main__":
    write(sys.argv[1])
