"""Seeded fixture tables for the registered queries of the query pass
(``queries.py``): ``lineitem``, ``part`` and ``embeddings``, with the
column names and types of the repository's fixture set (``FIXTURES.md``)
and its sf0.01 row counts. Values are drawn from ``seed``, so two runs
with one seed read identical files.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_SUPPLIER = 100
N_PART = 2_000
N_ORDERS = 15_000
N_VECTORS = 500
DIM = 64
LABELS = 10

_DAY_MS = 86_400_000
_EPOCH_1995 = int(datetime.datetime(
    1995, 1, 1, tzinfo=datetime.timezone.utc).timestamp() * 1000)


def write_all(out_dir: str, seed: int) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def save(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    words = np.array(["small", "red", "blue", "large", "steel"])
    things = np.array(["ring", "widget", "bolt", "gear", "valve"])
    types = np.array(["ECONOMY", "SMALL", "STANDARD", "PROMO", "LARGE"])
    save("part", {
        "p_partkey": pa.array(np.arange(N_PART), pa.int64()),
        "p_name": np.char.add(np.char.add(words[rng.integers(0, 5, N_PART)], " "),
                              things[rng.integers(0, 5, N_PART)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, N_PART)],
        "p_type": types[rng.integers(0, 5, N_PART)],
        "p_size": pa.array(rng.integers(1, 51, N_PART), pa.int32()),
        "p_retailprice": np.round(900 + np.arange(N_PART) * 0.1, 2),
    })
    # 1-7 lines per order, shipped 1-121 days after a 1995-2001 order date
    lines = rng.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    odate = _EPOCH_1995 + rng.integers(0, 2400, N_ORDERS) * _DAY_MS
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    save("lineitem", {
        "l_orderkey": pa.array(np.repeat(np.arange(N_ORDERS), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, N_PART, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, N_SUPPLIER, n_li), pa.int64()),
        "l_linenumber": pa.array(
            np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2000, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": pa.array(
            np.repeat(odate, lines) + rng.integers(1, 122, n_li) * _DAY_MS,
            pa.timestamp("ms")),
    })
    # LABELS clusters, so n2e's cosine >= 0.45 pairs exist within each
    label = rng.integers(0, LABELS, N_VECTORS)
    centers = rng.normal(size=(LABELS, DIM))
    vecs = centers[label] + rng.normal(scale=1.2, size=(N_VECTORS, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    save("embeddings", {
        "vec_id": pa.array(np.arange(N_VECTORS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
