"""Seeded generator for the benchmark's read-side tables.

Writes parquet files shaped like the repository's TPC-H-ish test data
(customer, orders, lineitem, events, documents, embeddings) at a chosen
scale factor. The same seed and scale give byte-identical tables; the
engine only ever sees these files.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
ALL_TABLES = ["customer", "orders", "lineitem", "events", "documents", "embeddings"]

# Which tables each workload reads; write_mix generates its own batches.
WORKLOAD_TABLES = {"query_mix": ALL_TABLES}


def _rng(seed: int, table: str) -> np.random.Generator:
    # one independent stream per table: adding a table never shifts another
    digest = hashlib.sha256(f"{seed}/{table}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _days(start: str, rng, n: int, span_days: int):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def customer(rng, sf):
    n = max(10, int(150_000 * sf))
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    })


def orders(rng, sf):
    n = max(10, int(1_500_000 * sf))
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(10, int(150_000 * sf)), n), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 900.0, 500_000.0, n),
        "o_orderdate": _days("1995-01-01", rng, n, 2404),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
    })


def lineitem(rng, sf):
    n = max(40, int(6_000_000 * sf))
    n_orders = max(10, int(1_500_000 * sf))
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days("1995-01-02", rng, n, 2498),
    })


def events(rng, sf):
    n = max(100, int(1_000_000 * sf))
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1_500, n), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _money(rng, 0.0, 560.0, n),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents(rng, sf):
    n = max(50, int(50_000 * sf))
    words = np.array(VOCAB)
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # a few exact duplicates, as real crawls have
    for i in range(8):
        texts[n - 1 - i] = texts[i * 7]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng, sf):
    n = max(50, int(20_000 * sf))
    x = rng.standard_normal((n, 64))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, 64 * (n + 1), 64), pa.int32())
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


BUILDERS = {f.__name__: f for f in
            (customer, orders, lineitem, events, documents, embeddings)}


def build(name: str, seed: int, sf: float) -> pa.Table:
    return BUILDERS[name](_rng(seed, name), sf)


def write(outdir: str, seed: int, sf: float, tables) -> None:
    os.makedirs(outdir, exist_ok=True)
    for name in tables:
        pq.write_table(build(name, seed, sf), os.path.join(outdir, f"{name}.parquet"),
                       compression="snappy")
