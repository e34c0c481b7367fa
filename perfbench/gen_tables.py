"""Seeded generator for the tables the curate workload's queries read.

The tables copy the schema and value domains of the repository's
TPC-H-ish test corpus (TESTDATA.md): same column names and parquet
types, one row group per table, written through pandas/pyarrow like the
corpus. Row counts scale with `sf` exactly as the corpus does
(lineitem ~6M x sf, orders 1.5M x sf, events 1M x sf, documents and
embeddings 50k x sf). Only the five tables the swept queries read are
written: lineitem, orders, events, documents, embeddings.

Documents carry planted near-duplicates (one in ten copies an earlier
document with a few words swapped) so the dedup operators find pairs;
embeddings are unit vectors around ten labelled centroids.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a the data row column table key value join group agg sort scan "
         "filter window merge hash part query order line fast slow small big "
         "batch stream spark customer vector").split()
LANGS = np.array(["en", "en", "en", "en", "en", "en", "fr", "es", "zh", "de"])
DAY0_1995 = np.datetime64("1995-01-01", "D")


def _ts(days, seconds=None):
    t = DAY0_1995 + days.astype("timedelta64[D]")
    t = t.astype("datetime64[us]")
    if seconds is not None:
        t = t + (seconds * 1e6).astype("timedelta64[us]")
    return t


def _write(df, schema, path):
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, row_group_size=max(1, len(df)))


def lineitem(rng, sf, n_orders):
    n = max(1, int(6_000_000 * sf))
    qty = rng.integers(1, 51, n).astype(float)
    df = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_orders, n),
        "l_partkey": rng.integers(0, max(1, int(200_000 * sf)), n),
        "l_suppkey": rng.integers(0, max(1, int(10_000 * sf)), n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["R", "A", "N"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_shipdate": _ts(rng.integers(1, 2500, n)),
    })
    schema = pa.schema([("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
                        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
                        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
                        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
                        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
                        ("l_shipdate", pa.timestamp("us"))])
    return df, schema


def orders(rng, sf, n):
    df = pd.DataFrame({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, max(1, int(150_000 * sf)), n),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
        "o_orderdate": _ts(rng.integers(0, 2404, n)),
        "o_orderpriority": rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n),
    })
    schema = pa.schema([("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                        ("o_orderdate", pa.timestamp("us")),
                        ("o_orderpriority", pa.string())])
    return df, schema


def events(rng, sf):
    n = max(1, int(1_000_000 * sf))
    secs = np.sort(rng.uniform(0, 30 * 86400, n))
    df = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + (secs * 1e6).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n),
        "event_type": rng.choice(np.array(["click", "view", "purchase", "signup", "error"]), n),
        "value": np.round(rng.uniform(0.01, 490.02, n), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
    })
    schema = pa.schema([("event_id", pa.int64()), ("ts", pa.timestamp("us")),
                        ("user_id", pa.int64()), ("event_type", pa.string()),
                        ("value", pa.float64()), ("props", pa.string())])
    return df, schema


def documents(rng, sf):
    n = max(1, int(50_000 * sf))
    texts = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = texts[i - int(rng.integers(1, 10))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        else:
            words = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(rng.integers(8, 90)))]
        texts.append(" ".join(words))
    df = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n),
        "source": ["src%d" % s for s in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()),
                        ("lang", pa.string()), ("source", pa.string()),
                        ("n_chars", pa.int64())])
    return df, schema


def embeddings(rng, sf, dim=64, labels=10):
    n = max(1, int(50_000 * sf))
    centroids = rng.normal(size=(labels, dim))
    label = rng.integers(0, labels, n)
    v = centroids[label] + 0.6 * rng.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    df = pd.DataFrame({"vec_id": np.arange(n, dtype=np.int64),
                       "embedding": list(v),
                       "label": label.astype(np.int32)})
    schema = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])
    return df, schema


def generate(out_dir, seed, sf):
    """Write the five tables for (seed, sf) under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, 20240101])
    n_orders = max(1, int(1_500_000 * sf))
    tables = {
        "orders": orders(rng, sf, n_orders),
        "lineitem": lineitem(rng, sf, n_orders),
        "events": events(rng, sf),
        "documents": documents(rng, sf),
        "embeddings": embeddings(rng, sf),
    }
    for name, (df, schema) in tables.items():
        _write(df, schema, os.path.join(out_dir, name + ".parquet"))
    return sorted(tables)
