"""Seeded generator of the TPC-H-shaped tables the registry workload reads.

Writes documents, lineitem and orders as single parquet files with the same
column names and types as the program's corpus tables, so the registry
queries and their DuckDB oracle SQL run on them unchanged.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("row the query stream value hash batch sort data big filter dup fast "
         "spark line small customer group key agg scan slow table part a merge "
         "window order column join vector").split()
LANGS = np.array(["en", "de", "es", "fr", "zh"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
FLAGS = np.array(["A", "N", "R"])
STATUS = np.array(["F", "O"])
ORDER_STATUS = np.array(["F", "O", "P"])
PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EPOCH_1995 = np.datetime64("1995-01-01", "us")
DAY_US = 86_400_000_000


def _days(rng, n, span):
    return EPOCH_1995 + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def documents(rng, n):
    texts = []
    for _ in range(n):
        k = int(rng.integers(8, 90))
        texts.append(" ".join(WORDS[i] for i in rng.integers(0, len(WORDS), k)))
    # a few exact duplicates, so dedup-style operators have work
    for i in range(0, n, 25):
        if i + 1 < n:
            texts[i + 1] = texts[i]
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array(np.char.add("src", (np.arange(n) % 20).astype(str))),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def orders(rng, n):
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, max(1, n // 10), n, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(ORDER_STATUS, n)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": pa.array(_days(rng, n, 2400), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITY, n)),
    })


def lineitem(rng, n, n_orders):
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, max(1, n // 30), n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 100, n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n, dtype=np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(rng.choice(FLAGS, n)),
        "l_linestatus": pa.array(rng.choice(STATUS, n)),
        "l_shipdate": pa.array(_days(rng, n, 2500), pa.timestamp("us")),
    })


def write(out_dir, seed, scale):
    """Write the three tables; `scale` 1.0 is 60k lineitem rows."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_orders = int(15000 * scale)
    tables = {
        "documents": documents(rng, int(500 * scale)),
        "orders": orders(rng, n_orders),
        "lineitem": lineitem(rng, int(60000 * scale), n_orders),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {k: t.num_rows for k, t in tables.items()}
