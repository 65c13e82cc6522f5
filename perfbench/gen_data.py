"""Deterministic synthetic inputs for the benchmark.

Writes the ten tables the queries read (a TPC-H-like star schema, an
`events` stream table, `documents` and `embeddings`) as one parquet file
each, with the column names and types the query code expects.  The same
arguments always give byte-identical files.

    python3 gen_data.py <out_dir> <sf> <n_docs> <n_vecs>
"""
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def tpch(out, sf, rng):
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    n_c, n_s = max(10, int(150000 * sf)), max(10, int(10000 * sf))
    n_p, n_o = max(10, int(200000 * sf)), max(10, int(1500000 * sf))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_c), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_c), pa.int32()),
        "c_acctbal": _money(rng, n_c, -999.99, 9999.99),
        "c_mktsegment": segs[rng.integers(0, 5, n_c)]})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_s), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_s), pa.int32()),
        "s_acctbal": _money(rng, n_s, -999.99, 9999.99)})
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                      "STANDARD"])
    pk = np.arange(n_p)
    _write(out, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_p)],
        "p_type": types[rng.integers(0, 6, n_p)],
        "p_size": pa.array(rng.integers(1, 51, n_p), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                     "5-LOW"])
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_o), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_c, n_o), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_o)],
        "o_totalprice": _money(rng, n_o, 1000.0, 500000.0),
        "o_orderdate": pa.array(_days(rng, n_o, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1)), pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n_o)]})
    # 1..7 lines per order; (l_orderkey, l_linenumber) is unique and the
    # rows are shuffled so no scan sees them in key order
    per = rng.integers(1, 8, n_o)
    okey = np.repeat(np.arange(n_o), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per])
    perm = rng.permutation(len(okey))
    okey, lnum, n_l = okey[perm], lnum[perm], len(okey)
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_s, n_l), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
        "l_extendedprice": _money(rng, n_l, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_l) / 100.0,
        "l_tax": rng.integers(0, 9, n_l) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_l)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_l)],
        "l_shipdate": pa.array(_days(rng, n_l, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4)), pa.timestamp("us"))})
    n_e = max(100, int(1000000 * sf))
    n_u = max(10, int(15000 * sf))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.choice(30 * 86400 * 10**6, n_e, replace=False))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_e), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_u, n_e), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_e)],
        "value": np.maximum(0.01, np.round(rng.exponential(40.0, n_e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_e)]})


def documents(out, n, rng):
    """Bag-of-words documents; about 5% are near-duplicates of an earlier
    document (a copy with a ` dup` token appended) and a few are exact
    copies, so the dedup operators have something to find."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, 30, k)))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def embeddings(out, n, rng, dim=64, k=10):
    """Unit vectors around k cluster centres; `label` is the centre."""
    centres = rng.normal(0.0, 1.0, (k, dim))
    label = rng.integers(0, k, n)
    v = centres[label] + rng.normal(0.0, 1.2, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32())})


def generate(out, sf, n_docs, n_vecs):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(DATA_SEED)
    tpch(out, sf, rng)
    documents(out, n_docs, rng)
    embeddings(out, n_vecs, rng)


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4]))
