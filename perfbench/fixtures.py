"""Seeded input generation for the benchmark workloads.

Everything here is numpy + pyarrow: no Spark job runs while inputs are
made, so input generation time does not depend on the engine under test.
The same seed always gives the same tables, byte for byte.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NATIONS = 25
REGIONS = 5
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
FLAGS = ("A", "N", "R")
EPOCH_MS_1992 = 694224000000  # 1992-01-01 UTC
DAY_MS = 86_400_000


def star_tables(seed: int, n_orders: int) -> dict[str, pa.Table]:
    """TPC-H-ish star schema: nation, customer, orders, lineitem.

    ``n_orders`` sets the scale; customers are a tenth of it and each order
    carries 1..7 line items (four on average, as in TPC-H).
    """
    rng = np.random.default_rng(seed)
    n_cust = max(n_orders // 10, 50)
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(NATIONS, dtype=np.int32)),
        "n_name": [f"NATION_{i:02d}" for i in range(NATIONS)],
        "n_regionkey": pa.array((np.arange(NATIONS) % REGIONS).astype(np.int32)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, n_cust + 1, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(1, n_cust + 1)],
        "c_nationkey": pa.array(rng.integers(0, NATIONS, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
    })
    o_key = np.arange(1, n_orders + 1, dtype=np.int64)
    o_date = EPOCH_MS_1992 + rng.integers(0, 2400, n_orders) * DAY_MS
    n_lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(o_key, n_lines)
    l_lineno = np.concatenate([np.arange(1, k + 1) for k in n_lines]).astype(np.int32)
    n_li = len(l_order)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900.0, 2000.0, n_li), 2)
    disc = rng.integers(0, 11, n_li) / 100.0
    tax = rng.integers(0, 9, n_li) / 100.0
    ship = np.repeat(o_date, n_lines) + rng.integers(1, 122, n_li) * DAY_MS
    per_order_total = np.bincount(
        np.repeat(np.arange(n_orders), n_lines), weights=price * (1 - disc) * (1 + tax)
    )
    orders = pa.table({
        "o_orderkey": pa.array(o_key),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, n_orders).astype(np.int64)),
        "o_orderstatus": pa.array(np.array(("F", "O", "P"))[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(per_order_total, 2)),
        "o_orderdate": pa.array(o_date.astype("datetime64[ms]")),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_orders)]),
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order),
        "l_partkey": pa.array(rng.integers(1, 2001, n_li).astype(np.int64)),
        "l_linenumber": pa.array(l_lineno),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(disc),
        "l_tax": pa.array(tax),
        "l_returnflag": pa.array(np.array(FLAGS)[rng.integers(0, 3, n_li)]),
        "l_shipdate": pa.array(ship.astype("datetime64[ms]")),
    })
    return {
        "nation": nation, "customer": customer, "orders": orders, "lineitem": lineitem,
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    """Write each table as a one-file directory ``<out_dir>/<name>.parquet``:
    the catalog layout, in the directory form Spark writers append to."""
    for name, t in tables.items():
        table_dir = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(table_dir, exist_ok=True)
        pq.write_table(t, os.path.join(table_dir, "part-00000.parquet"), compression="snappy")


#: vocabulary of the generated crawl: lower-case tokens drawn Zipf-like, so
#: document frequencies span rare to common terms as in real text
VOCAB = 400
#: embedding width; vectors sit around a few cluster centres so IVF cells
#: hold neighbours, as embeddings of real text do
DIM = 64
CLUSTERS = 12


def _words() -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    return np.array(["".join(letters[[i // 26 % 26, i % 26, (7 * i) % 26]]) + "x"
                     for i in range(VOCAB)])


def crawl(seed: int, n_docs: int, first_id: int = 1):
    """``n_docs`` crawled documents and their embeddings.

    Returns ``(documents, embeddings)``: documents are (doc_id, text) with
    15..40 tokens each and pairwise distinct text (the engine's dedup would
    reject a repeat), embeddings (doc_id, embedding float[DIM]).
    """
    rng = np.random.default_rng([seed, 11])
    words = _words()
    p = 1.0 / np.arange(1, VOCAB + 1)
    p /= p.sum()
    texts: list[str] = []
    seen: set[str] = set()
    while len(texts) < n_docs:
        t = " ".join(words[rng.choice(VOCAB, int(rng.integers(15, 41)), p=p)])
        if t not in seen:
            seen.add(t)
            texts.append(t)
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    documents = pa.table({"doc_id": pa.array(ids), "text": texts})
    return documents, embeddings_for(seed, ids)


def embeddings_for(seed: int, ids: np.ndarray, version: int = 0) -> pa.Table:
    """(doc_id, embedding) rows for ``ids``: the same (seed, id, version)
    always gives the same vector, so a re-crawled document can carry a new
    one."""
    centres = np.random.default_rng([seed, 12]).normal(size=(CLUSTERS, DIM))
    vecs = np.empty((len(ids), DIM), dtype=np.float32)
    for i, doc in enumerate(ids):
        r = np.random.default_rng([seed, 13, int(doc), version])
        vecs[i] = centres[r.integers(CLUSTERS)] + 0.6 * r.normal(size=DIM)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    return pa.table({"doc_id": pa.array(np.asarray(ids, dtype=np.int64)),
                     "embedding": pa.FixedSizeListArray.from_arrays(flat, DIM).cast(
                         pa.list_(pa.float32()))})


def query_batch(seed: int, b: int, n_queries: int, first_qid: int):
    """Probe batch ``b``: ``n_queries`` queries of 1..3 terms each, and one
    query vector per query id.  Query ids start at ``first_qid``, which
    callers keep apart from document ids (ANN probes drop self-matches)."""
    rng = np.random.default_rng([seed, 14, b])
    words = _words()
    terms = []
    for q in range(n_queries):
        # mid-frequency terms: rare enough to rank, common enough to match
        for w in rng.choice(np.arange(5, 120), int(rng.integers(1, 4)), replace=False):
            terms.append((first_qid + q, str(words[w])))
    qids = np.arange(first_qid, first_qid + n_queries, dtype=np.int64)
    vecs = embeddings_for(seed, qids, version=1000 + b).column("embedding").to_pylist()
    return terms, [(int(q), v) for q, v in zip(qids, vecs)]
