"""Seeded input tables for the benchmark.

The shapes follow the tables the registered queries read
(``io.DRIVER_TABLES``): the same columns, types, key ranges and the
same 30-word document vocabulary, so the queries see the data they
were written for. The same seed always gives the same tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
N_SOURCES = 20
EMBED_DIM = 64
DAY_US = 86_400 * 10**6
EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)


def _words(rng, k: int) -> str:
    return " ".join(np.array(WORDS)[rng.integers(0, len(WORDS), k)])


def documents(rng, n: int, boilerplate: bool = False) -> pa.Table:
    """One line of 10-100 random words per document; 5% are an earlier
    document plus " dup", so near-duplicates and a few exact
    duplicates exist.

    With ``boilerplate``, each document has one to three such body
    lines, and most documents of a source also carry that source's
    header (80% of them) and footer (60%) lines: the per-source
    furniture that ``text.remove_boilerplate`` strips."""
    texts: list[str] = []
    sources = [f"src{i % N_SOURCES}" for i in range(n)]
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n_body = int(rng.integers(1, 4)) if boilerplate else 1
        lines = [_words(rng, int(rng.integers(10, 101))) for _ in range(n_body)]
        if boilerplate:
            src = sources[i]
            if rng.random() < 0.8:
                lines.insert(0, f"{src} portal home search contact")
            if rng.random() < 0.6:
                lines.append(f"copyright {src} all rights reserved")
        texts.append("\n".join(lines))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[int(x)] for x in rng.integers(0, len(LANGS), n)],
        "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _dates(days) -> pa.Array:
    return pa.array(EPOCH_1995 + np.asarray(days, np.int64) * DAY_US, pa.timestamp("us"))


def orders_lineitem(rng, n_orders: int) -> tuple[pa.Table, pa.Table]:
    """TPC-H-shaped orders and their 1-7 line items each, dated
    1995-2001."""
    o_days = rng.integers(0, 2404, n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, max(n_orders // 10, 1), n_orders), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[int(x)] for x in rng.choice(3, n_orders, p=[0.49, 0.49, 0.02])],
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_orders), 2),
        "o_orderdate": _dates(o_days),
        "o_orderpriority": [PRIORITIES[int(x)] for x in rng.integers(0, 5, n_orders)],
    })
    per_order = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), per_order)
    n = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in per_order])
    ship = np.repeat(o_days, per_order) + rng.integers(1, 122, n)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 200, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 10, n), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": [("A", "N", "R")[int(x)] for x in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[int(x)] for x in rng.integers(0, 2, n)],
        "l_shipdate": _dates(ship),
    })
    return orders, lineitem


def embeddings(rng, n: int) -> pa.Table:
    """Unit-length 64-dim float vectors around ten labelled centres."""
    centres = rng.normal(size=(10, EMBED_DIM))
    label = rng.integers(0, 10, n)
    v = centres[label] + 1.5 * rng.normal(size=(n, EMBED_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })


def write_query_tables(seed: int, out_dir: str, n_orders: int, n_docs: int) -> None:
    """The four tables the query mix reads, as ``<name>.parquet``."""
    rng = np.random.default_rng(seed)
    orders, lineitem = orders_lineitem(rng, n_orders)
    tables = {
        "orders": orders,
        "lineitem": lineitem,
        "documents": documents(rng, n_docs),
        "embeddings": embeddings(rng, n_docs),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
