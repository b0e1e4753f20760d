"""Deterministic input tables for the benchmark (sf0.1 shapes).

The tables follow the library's table contract (one `<name>.parquet` per
table, the columns the loaders expect) at the sizes of scale factor 0.1:

    customer    15,000 rows      lineitem   600,000 rows
    events     100,000 rows      documents    5,000 rows
    embeddings   2,000 x 64-d float vectors in 10 clusters

The contents depend only on DATA_SEED, never on the run's --seed: the
expected result hashes in expected_hashes.json are pinned to these bytes.
The run's seed drives what varies between runs (query order, the ingest
payloads and arrival schedule), inside the harness.

Usage: python3 perfbench/gen_data.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("batch part spark line column order small sort fast value scan a hash "
         "slow group agg filter query big key window vector table stream join "
         "data customer the").split()
LANGS = ["en", "en", "en", "de", "fr", "zh"]


def _write(out_dir, name, table):
    tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
    pq.write_table(table, tmp, row_group_size=1 << 17)
    os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def customer(rng, n=15_000):
    keys = np.arange(n, dtype=np.int64)
    return pa.table({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, len(SEGMENTS), n)],
    })


def lineitem(rng, n=600_000):
    orderkey = np.arange(n, dtype=np.int64) // 4
    qty = rng.integers(1, 51, n).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    ship = (np.datetime64("1992-01-02", "ms")
            + rng.integers(0, 2500 * 86_400_000, n).astype("timedelta64[ms]"))
    return pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(0, 20_000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 1_000, n).astype(np.int64),
        "l_linenumber": (np.arange(n) % 4 + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": pa.array(ship, pa.timestamp("ms")),
    })


def events(rng, n=100_000):
    start = np.datetime64("2024-01-01", "ns").astype(np.int64)
    ts = np.sort(start + rng.integers(0, 30 * 86_400 * 10**9, n))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        # nanosecond timestamps, as the stream table's contract has them
        "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
        "user_id": rng.integers(0, 1_500, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.lognormal(3.0, 1.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents(rng, n=5_000):
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(8, 60))])
             for _ in range(n)]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
        "source": [f"src{i % 7}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def embeddings(rng, n=2_000, dim=64, clusters=10):
    centers = rng.normal(0.0, 1.0, (clusters, dim))
    label = rng.integers(0, clusters, n)
    vec = centers[label] + rng.normal(0.0, 0.6, (n, dim))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vec.astype(np.float32)), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


TABLES = {"customer": customer, "lineitem": lineitem, "events": events,
          "documents": documents, "embeddings": embeddings}


def generate(out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, make) in enumerate(TABLES.items()):
        _write(out_dir, name, make(np.random.default_rng([DATA_SEED, i])))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: gen_data.py <out_dir>")
    generate(sys.argv[1])
