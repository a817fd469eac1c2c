"""Seeded rewrite of the sf-tier test tables that the query mix reads.

Same schemas and value distributions as the sf-tier parquet tables
(FIXTURES.md §B): documents are bags of a 30-word vocabulary with ~5 %
near-duplicates (an earlier text plus `` dup``), embeddings are unit
Gaussian vectors with ten labels, and orders, lineitem and supplier are
uniform TPC-H-shaped keys and values. The seed drives every value, the
row order, and where each table is split into its part files; row
counts and the number of part files are fixed, so every seed gives the
same amount of work.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("documents", "embeddings", "orders", "lineitem", "supplier")
PARTS = 4

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    texts = []
    for i in range(n):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), rng.integers(8, 100))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P), pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _days(rng: np.random.Generator, n: int, first: dt.date, span: int) -> pa.Array:
    base = np.datetime64(first, "us")
    offs = rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def _orders(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(np.array(["F", "O", "P"]), n), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": _days(rng, n, dt.date(1995, 1, 1), 2404),
        "o_orderpriority": pa.array(rng.choice(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]), n),
            pa.string()),
    })


def _lineitem(rng: np.random.Generator, n_orders: int, n_supp: int) -> pa.Table:
    per = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per])
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20 * n_supp, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n) / 100, 2)),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), n), pa.string()),
        "l_linestatus": pa.array(rng.choice(np.array(["F", "O"]), n), pa.string()),
        "l_shipdate": _days(rng, n, dt.date(1995, 1, 2), 2499),
    })


def _supplier(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n), 2)),
    })


def generate(out_dir: str, seed: int, n_docs: int, n_vecs: int,
             n_orders: int, n_supp: int) -> int:
    """Write every table as ``<out_dir>/<name>.parquet/part-*.parquet``;
    returns the bytes written."""
    rng = np.random.default_rng(seed)
    tables = {
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
        "orders": _orders(rng, n_orders, max(1, n_orders // 10)),
        "lineitem": _lineitem(rng, n_orders, n_supp),
        "supplier": _supplier(rng, n_supp),
    }
    written = 0
    for name, table in tables.items():
        table = table.take(rng.permutation(table.num_rows))
        # part sizes jitter around an even split, so the task count is
        # fixed while the rows each task reads depend on the seed
        cuts = np.linspace(0, table.num_rows, PARTS + 1)
        jitter = rng.uniform(-0.1, 0.1, PARTS - 1) * table.num_rows / PARTS
        cuts[1:-1] += jitter
        cuts = cuts.astype(int)
        path = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(path, exist_ok=True)
        for i in range(PARTS):
            f = os.path.join(path, f"part-{i:05d}.parquet")
            pq.write_table(table.slice(cuts[i], cuts[i + 1] - cuts[i]), f)
            written += os.path.getsize(f)
    return written
