"""Seeded input generation for the benchmark workloads.

Every table is a pure function of ``(seed, sizes)``: the same seed writes
byte-identical parquet.  The tables copy the schemas and the measured
distributions of the project's sf0.1 test data (``lineitem``, ``orders``,
``documents``, ``embeddings``; ``perfbench/README.md`` lists the figures
side by side), with defects planted where a workload needs them.
"""

from __future__ import annotations

import os
import zlib
from typing import Dict, List

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, table) so tables do not shift
    when another table's size changes."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _write(table: pa.Table, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=1 << 20)
    return path


def lineitem(rng: np.random.Generator,
             n_rows: int) -> Dict[str, np.ndarray]:
    """Lineitem rows with the marginals of the project's sf0.1 table:
    every column drawn independently and uniformly.  Order keys come
    from ``n_rows // 4`` orders, and line numbers are drawn from 1..7
    independently of them, so (l_orderkey, l_linenumber) repeats, as in
    sf0.1 (118,144 repeated keys in 600,000 rows)."""
    return {
        "l_orderkey": rng.integers(0, n_rows // 4, n_rows, dtype=np.int64),
        "l_partkey": rng.integers(0, 20_000, n_rows, dtype=np.int64),
        "l_suppkey": rng.integers(0, 1_000, n_rows, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_rows).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_rows).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_rows),
                                    2),
        "l_discount": rng.integers(0, 11, n_rows) / 100.0,
        "l_tax": rng.integers(0, 9, n_rows) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_rows)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_rows)],
        "l_shipdate": _EPOCH_1995 + np.timedelta64(1, "D")
        + rng.integers(0, 2500, n_rows).astype("timedelta64[D]"),
    }


def _plant(rng: np.random.Generator, cols: Dict[str, np.ndarray],
           rows: np.ndarray, kind: str, null_mask: np.ndarray) -> None:
    """Plant one defect kind into ``rows``, in place."""
    k = len(rows)
    if kind == "range":
        # quantities outside TPC-H's [1, 50]: zero, negative or too large
        cols["l_quantity"][rows] = rng.choice([0.0, -3.0, 75.0, 120.0], k)
    elif kind == "nulls":
        null_mask[rows] = True


# defects planted into seeded deltas; delta 0 stays clean.  Repeated
# (l_orderkey, l_linenumber) keys need no planting: every delta has them.
DEFECTS = ("nulls", "range")


def delta_split(seed: int, root: str, n_rows: int, k: int) -> List[str]:
    """One lineitem table split into ``k`` deltas by a seeded hash of
    ``l_orderkey`` (all lines of an order land in one delta).  Two
    deltas other than the first each carry one planted defect in 0.5% of
    their rows: nulls in ``l_suppkey`` or ``l_quantity`` outside
    [1, 50]."""
    rng = _rng(seed, "deltas")
    cols = lineitem(rng, n_rows)
    salt = np.uint64(rng.integers(1, 2**31))
    key = cols["l_orderkey"].astype(np.uint64)
    h = (key * np.uint64(0x9E3779B97F4A7C15) + salt) >> np.uint64(33)
    part = (h % np.uint64(k)).astype(np.int64)
    null_mask = np.zeros(n_rows, dtype=bool)
    for kind, d in zip(DEFECTS, rng.choice(np.arange(1, k), len(DEFECTS),
                                           replace=False)):
        members = np.flatnonzero(part == d)
        rows = rng.choice(members, max(2, len(members) // 200),
                          replace=False)
        _plant(rng, cols, rows, kind, null_mask)
    table = pa.table({name: pa.array(v, mask=null_mask
                                     if name == "l_suppkey" else None)
                      for name, v in cols.items()})
    return [_write(table.filter(pa.array(part == i)),
                   os.path.join(root, f"delta{i}.parquet"))
            for i in range(k)]


def orders_variant(seed: int, root: str, n_rows: int) -> str:
    """One seeded variant of ``orders`` with the marginals of the sf0.1
    table (dense order keys; custkey, price, status, priority and date
    uniform).  The variant stores ``o_custkey`` and ``o_totalprice`` as
    strings, so the profiler infers their type and casts them, and nulls
    ~2% of two columns."""
    rng = _rng(seed, "orders")
    custkey = rng.integers(0, 15_000, size=n_rows, dtype=np.int64)
    price = np.round(rng.uniform(1000.0, 500_000.0, size=n_rows), 2)
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                           "4-NOT SPECIFIED", "5-LOW"])
    cols = {
        "o_orderkey": pa.array(np.arange(n_rows, dtype=np.int64)),
        "o_custkey": pa.array(custkey.astype(str)),
        "o_orderstatus": pa.array(
            np.array(["F", "O", "P"])[rng.integers(0, 3, n_rows)]),
        "o_totalprice": pa.array(np.char.mod("%.2f", price),
                                 mask=rng.random(n_rows) < 0.02),
        "o_orderdate": pa.array(_EPOCH_1995 + rng.integers(0, 2405, n_rows)
                                .astype("timedelta64[D]")),
        "o_orderpriority": pa.array(priorities[rng.integers(0, 5, n_rows)],
                                    mask=rng.random(n_rows) < 0.02),
    }
    return _write(pa.table(cols), os.path.join(root, "orders.parquet"))


# the vocabulary of the sf0.1 documents; a near duplicate there is
# another document's text with " dup" appended
_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
NEAR_DUP_SHARE = 0.05
EMBEDDING_DIM = 64


def corpus(seed: int, root: str, n_docs: int,
           n_embeddings: int) -> Dict[str, str]:
    """Documents and embeddings shaped like the sf0.1 ``documents`` and
    ``embeddings`` tables.  A document is one line of 10 to 99 words
    drawn uniformly from a 30-word vocabulary; 5% of the documents are
    near duplicates (another document's text plus " dup"), and two near
    duplicates of one source are exact duplicates of each other.
    Embedding ``i`` belongs to document ``i``: a random unit vector of
    dimension 64, so no two are near-identical."""
    rng = _rng(seed, "corpus")
    words = np.array(_WORDS)
    n_words = rng.integers(10, 100, n_docs)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in n_words]
    dups = rng.choice(n_docs, int(n_docs * NEAR_DUP_SHARE), replace=False)
    sources = np.setdiff1d(np.arange(n_docs), dups)
    for i in dups:
        texts[i] = texts[int(rng.choice(sources))] + " dup"
    docs = pa.table({"doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
                     "text": pa.array(texts)})
    vecs = rng.normal(size=(n_embeddings, EMBEDDING_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)) \
        .astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_embeddings, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
    })
    return {"documents": _write(docs, os.path.join(root, "documents.parquet")),
            "embeddings": _write(emb, os.path.join(root,
                                                   "embeddings.parquet"))}
