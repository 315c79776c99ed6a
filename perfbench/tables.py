"""Seeded generator for the registry-query inputs (orders, customer, lineitem,
documents) in the layout of the repo's sf-scaled test tables: same column
names, Arrow types and value ranges, one parquet file per table.

Row counts scale linearly with `sf` (sf 0.1 = 150k orders, 15k customers,
~600k lineitems, 5k documents). Everything is a function of (seed, sf), so
the same arguments always give byte-identical tables.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("orders", "customer", "lineitem", "documents")

WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window", "b")
DAY0 = datetime.datetime(1995, 1, 1)


def _days(rng, n, span):
    base = np.datetime64(DAY0, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def generate(out_dir, seed, sf):
    """Write the four tables under `out_dir` as `<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    k = sf / 0.1
    n_orders, n_cust = int(150000 * k), int(15000 * k)
    n_parts, n_supp = int(20000 * k), int(1000 * k)
    n_docs = int(5000 * k)

    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_orders), 2)),
        "o_orderdate": pa.array(_days(rng, n_orders, 2404), pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, n_orders)]),
    }), os.path.join(out_dir, "orders.parquet"))

    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])[
                rng.integers(0, 5, n_cust)]),
    }), os.path.join(out_dir, "customer.parquet"))

    n_lines = n_orders * 4
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_lines, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_parts, n_lines, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_lines, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_lines, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_lines).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n_lines), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_lines) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lines) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_lines)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_lines)]),
        "l_shipdate": pa.array(_days(rng, n_lines, 2499), pa.timestamp("us")),
    }), os.path.join(out_dir, "lineitem.parquet"))

    # documents: random text over a small vocabulary, plus exact and near
    # duplicates so the dedup/contamination operators have matches to find
    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        roll = rng.random()
        if i > 10 and roll < 0.02:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and roll < 0.06:
            toks = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(max(1, len(toks) // 12)):
                toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(toks))
        else:
            n = int(rng.integers(8, 100))
            texts.append(" ".join(words[rng.integers(0, len(words), n)]))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(["en", "en", "de", "fr", "es", "zh"])[
            rng.integers(0, 6, n_docs)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), os.path.join(out_dir, "documents.parquet"))
