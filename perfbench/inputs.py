"""The benchmark's input tables, in the shape of the test data.

The ten tables match TESTDATA.md in columns, parquet physical types
(one row group per file, microsecond timestamps without a UTC
adjustment) and value domains. Content is a pure function of the
scale, drawn from a fixed content seed, so an oracle comparison holds
for every run; the run's --seed fixes only each table's row order,
which is what a scan, a shuffle's input partitioning and every
order-sensitive tie-break see.

`lineitems` = 60000 gives the testdata's sf0.01 row counts, 600000 its
sf0.1.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ALL = ["region", "nation", "customer", "supplier", "part", "orders",
       "lineitem", "events", "documents", "embeddings"]

CONTENT_SEED = 42

VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]


def _days(start, n_days, rng, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, n).astype("timedelta64[D]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n):
    return np.asarray(values, dtype=object)[rng.integers(0, len(values), n)]


def _range(n):
    return np.arange(n, dtype=np.int64)


def tables(lineitems):
    """name -> pyarrow.Table, the seed-independent content."""
    n = lineitems
    n_cust, n_supp, n_part = n // 40, max(100, n // 600), n // 30
    n_ord, n_ev, n_doc = n // 4, n // 6, n // 120
    n_users, n_vec = max(100, n // 400), max(500, n // 300)
    rng = np.random.default_rng(CONTENT_SEED)
    i32 = lambda a: pa.array(a, pa.int32())
    out = {}
    out["region"] = pa.table({
        "r_regionkey": i32(np.arange(5)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": i32(np.arange(25)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": i32(np.arange(25) % 5)})
    out["customer"] = pa.table({
        "c_custkey": _range(n_cust),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": i32(rng.integers(0, 25, n_cust)),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    out["supplier"] = pa.table({
        "s_suppkey": _range(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": i32(rng.integers(0, 25, n_supp)),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    colors = ["small", "red", "blue", "green", "large", "steel"]
    nouns = ["ring", "widget", "bolt", "gear", "panel", "valve"]
    out["part"] = pa.table({
        "p_partkey": _range(n_part),
        "p_name": [f"{c} {w}" for c, w in zip(_pick(rng, colors, n_part),
                                              _pick(rng, nouns, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, ["ECONOMY", "STANDARD", "LARGE", "PROMO",
                              "SMALL", "MEDIUM"], n_part),
        "p_size": i32(rng.integers(1, 51, n_part)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    out["orders"] = pa.table({
        "o_orderkey": _range(n_ord),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", 2404, rng, n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n),
        "l_partkey": rng.integers(0, n_part, n),
        "l_suppkey": rng.integers(0, n_supp, n),
        "l_linenumber": i32(rng.integers(1, 8, n)),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n),
        "l_linestatus": _pick(rng, ["O", "F"], n),
        "l_shipdate": _days("1995-01-02", 2498, rng, n)})
    month_us = 30 * 86400 * 10**6
    out["events"] = pa.table({
        "event_id": _range(n_ev),
        "ts": np.datetime64("2024-01-01", "us")
              + rng.integers(0, month_us, n_ev).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": _money(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    out["documents"] = _documents(rng, n_doc)
    out["embeddings"] = _embeddings(rng, n_vec)
    return out


def _documents(rng, n):
    """8-100 words over the testdata vocabulary; every 20th doc (ids = 7
    mod 20) is the doc 7 ids earlier plus a trailing "dup" token, the
    testdata's ~5% planted near-duplicates."""
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(8, 101))])
             for _ in range(n)]
    for i in range(7, n, 20):
        texts[i] = texts[i - 7] + " dup"
    return pa.table({
        "doc_id": _range(n),
        "text": texts,
        "lang": _pick(rng, ["en", "en", "en", "de", "fr", "zh", "es"], n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def _embeddings(rng, n, dim=64, spread=0.35):
    """Unit vectors around 10 cluster centres (label = cluster); every
    20th vector is a 1%-jittered copy of one 30 ids earlier."""
    label = rng.integers(0, 10, n)
    centres = rng.uniform(-1, 1, (10, dim))
    vec = centres[label] + spread * rng.uniform(-1, 1, (n, dim))
    for i in range(30 + 7, n, 20):
        label[i] = label[i - 30]
        vec[i] = vec[i - 30] + 0.01 * rng.uniform(-1, 1, dim)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
        pa.array(vec.astype(np.float32).ravel()))
    return pa.table({"vec_id": _range(n), "embedding": emb,
                     "label": pa.array(label, pa.int32())})


def write(out_dir, lineitems, seed, names):
    """Write the seeded copy of `names` as `<out_dir>/<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    if not names:
        return
    content = tables(lineitems)
    rng = np.random.default_rng(seed)
    for name in names:
        t = content[name]
        t = t.take(pa.array(rng.permutation(t.num_rows)))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=max(1, t.num_rows))
