"""Seeded registry fixtures: the ten parquet tables the batch registry reads
(`region nation customer supplier part orders lineitem events documents
embeddings`), shaped like the repository's sf0.01 test tables.

The same seed always writes the same tables. Sizes follow sf0.01 (60k
lineitem rows, 10k events, 500 documents, 500 embeddings); only the values
change with the seed, so query cost stays comparable across seeds.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 1500, "supplier": 100, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "users": 150, "documents": 500,
    "embeddings": 500,
}
WORDS = ("a the row scan slow fast table value part hash merge batch spark "
         "key agg window order data column join small line customer query "
         "filter sort stream group big vector").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
SEGMENTS = ["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "STANDARD", "LARGE", "PROMO"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _days(rng, n, start, end):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n):
    # Shaped like the test tables' documents: 10-99 words drawn uniformly
    # from a 30-word vocabulary, and 5 % near-duplicates, each the current
    # text of a random other document plus a " dup" token. Duplicates are
    # made one at a time in random order, so one can copy another (a chain)
    # or lose its original to a later duplicate, as in those tables.
    texts = [" ".join(rng.choice(WORDS, k)) for k in rng.integers(10, 100, n)]
    for i in rng.permutation(n)[:n // 20]:
        j = int(rng.integers(0, n - 1))
        texts[i] = texts[j + (j >= i)] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": list(rng.choice(LANGS, n, p=LANG_P)),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    x = centers[label] * 0.15 + rng.normal(0.0, 1.0, (n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    x = x.astype(np.float32)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    }


def _events(rng, n, users):
    gaps = rng.exponential(259.0, n)  # ~30 days over 10k events
    ts = (np.datetime64("2024-01-01T00:00:00", "us")
          + np.cumsum(gaps * 1e6).astype("timedelta64[us]"))
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    return {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": list(rng.choice(EVENT_TYPES, n)),
        "value": value,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    }


def write_tables(out_dir, seed):
    """Write every table for `seed` into `out_dir` (created if absent)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    s = SIZES
    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    nc = s["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": list(rng.choice(SEGMENTS, nc))})
    ns = s["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    npart = s["part"]
    _write(out_dir, "part", {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(
            rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, npart)],
        "p_type": list(rng.choice(PART_TYPES, npart)),
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1)})
    no = s["orders"]
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": list(rng.choice(["P", "O", "F"], no)),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": pa.array(_days(rng, no, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1)),
                                type=pa.timestamp("us")),
        "o_orderpriority": list(rng.choice(PRIORITIES, no))})
    nl = s["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": list(rng.choice(["R", "A", "N"], nl)),
        "l_linestatus": list(rng.choice(["O", "F"], nl)),
        "l_shipdate": pa.array(_days(rng, nl, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4)),
                               type=pa.timestamp("us"))})
    _write(out_dir, "events", _events(rng, s["events"], s["users"]))
    _write(out_dir, "documents", _documents(rng, s["documents"]))
    _write(out_dir, "embeddings", _embeddings(rng, s["embeddings"]))
    return out_dir
