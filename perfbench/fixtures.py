"""Seeded input tables for the benchmark, written as parquet with pyarrow.

The shapes follow the repository's sf0.1 test tables (about 4 lineitems
per order over 1,000 suppliers, 20,000 parts and 15,000 customers; text
documents; 64-dimensional embeddings); the workloads choose the sizes.
Every value comes from the run's seed, so a run needs no data outside its
own checkout. The engine only ever sees the parquet files.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SHIPDATE_START = np.datetime64("1995-01-02", "us")
SHIPDATE_DAYS = 2500

# documents: word vocabulary in the style of the sf tables; the stopwords
# the quality filter counts are mixed in at a realistic rate
VOCAB = (
    "spark batch part line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data join "
    "vector customer cube array time index store plan shuffle task stage"
).split()
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


def lineitem_orders(rng: np.random.Generator, out_dir: str,
                    n_orders: int) -> tuple[str, str]:
    """lineitem.parquet and orders.parquet: 1-7 lines per order (about
    4 x n_orders lines), uniform part, supplier, quantity and ship date."""
    lines = rng.integers(1, 8, size=n_orders)
    orderkey = np.repeat(np.arange(1, n_orders + 1, dtype=np.int64), lines)
    n = len(orderkey)
    days = rng.integers(0, SHIPDATE_DAYS, size=n)
    lineitem = pa.table({
        "l_orderkey": orderkey,
        "l_partkey": rng.integers(1, 20_001, size=n, dtype=np.int64),
        "l_suppkey": rng.integers(1, 1_001, size=n, dtype=np.int64),
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_shipdate": pa.array(SHIPDATE_START + days.astype("timedelta64[D]"),
                               type=pa.timestamp("us")),
    })
    orders = pa.table({
        "o_orderkey": np.arange(1, n_orders + 1, dtype=np.int64),
        "o_custkey": rng.integers(1, 15_001, size=n_orders, dtype=np.int64),
    })
    return (_write(lineitem, os.path.join(out_dir, "lineitem.parquet")),
            _write(orders, os.path.join(out_dir, "orders.parquet")))


EXACT_DUP_FRAC = 0.03
NEAR_DUP_FRAC = 0.05
DIM = 64


def documents(rng: np.random.Generator, out_dir: str,
              n: int) -> tuple[str, list[tuple[int, int]]]:
    """documents.parquet (doc_id, text) plus the planted near-duplicate
    pairs (earlier id, later id). Some documents are exact copies of an
    earlier one and some differ from an earlier one in a single token;
    about one in ten is too short to pass the quality filter."""
    words = np.array(VOCAB + list(STOPWORDS))
    weights = np.r_[np.full(len(VOCAB), 1.0), np.full(len(STOPWORDS), 2.0)]
    weights /= weights.sum()
    texts: list[str] = []
    planted: list[tuple[int, int]] = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < EXACT_DUP_FRAC:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and u < EXACT_DUP_FRAC + NEAR_DUP_FRAC:
            src = int(rng.integers(0, i))
            toks = texts[src].split()
            if len(toks) >= 20:
                toks[int(rng.integers(0, len(toks)))] = "novel"
                texts.append(" ".join(toks))
                planted.append((src, i))
                continue
        if rng.random() < 0.1:  # short and stopword-free: filtered out
            texts.append(" ".join(rng.choice(VOCAB, size=int(rng.integers(3, 9)))))
        else:
            length = int(rng.integers(20, 90))
            texts.append(" ".join(rng.choice(words, size=length, p=weights)))
    table = pa.table({"doc_id": np.arange(n, dtype=np.int64), "text": texts})
    return _write(table, os.path.join(out_dir, "documents.parquet")), planted


def embeddings(rng: np.random.Generator, out_dir: str,
               n: int) -> tuple[str, np.ndarray]:
    """embeddings.parquet (vec_id, embedding float32[DIM]) and the matrix."""
    x = rng.standard_normal((n, DIM)).astype(np.float32)
    table = pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
    })
    return _write(table, os.path.join(out_dir, "embeddings.parquet")), x

