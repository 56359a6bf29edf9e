"""Seeded stand-ins for the sf-dir tables the ``query_mix`` queries read.

``__spark_entry__``'s queries take an sf dir holding one parquet file per
table. The benchmark writes such a dir from ``--seed`` so that it needs
nothing outside the checkout. Each table has the schema and the value
shapes of the repository's synthetic test data (a 30-word vocabulary with
per-doc language tags, random unit 64-d embeddings, timestamped events of
150 users, TPC-H-style line items), which the queries' DuckDB oracles and
accuracy gates were written against.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
N_USERS = 150


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.02:  # exact duplicates for the dedup gates
            texts.append(texts[int(rng.integers(0, i))])
        else:
            texts.append(" ".join(rng.choice(VOCAB, size=int(rng.integers(10, 100)))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _events(rng: np.random.Generator, n: int) -> pa.Table:
    gaps_us = rng.exponential(260e6, n).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps_us).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, n), pa.int64()),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(rng.exponential(50.0, n), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pa.table({
        "l_orderkey": pa.array(rng.integers(1, max(2, n // 4), n), pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 2001, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 101, n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n)],
        "l_shipdate": pa.array(
            np.datetime64("1995-01-01", "us")
            + (rng.integers(0, 7 * 365, n) * 86_400_000_000).astype("timedelta64[us]"),
            pa.timestamp("us"),
        ),
    })


def write_tables(sf_dir: str, seed: int, sizes: dict[str, int]) -> None:
    """Write ``<table>.parquet`` into ``sf_dir`` for every table in ``sizes``
    (row counts), each a single file as in the sf dirs."""
    makers = {"documents": _documents, "embeddings": _embeddings,
              "events": _events, "lineitem": _lineitem}
    os.makedirs(sf_dir, exist_ok=True)
    for i, (name, n) in enumerate(sorted(sizes.items())):
        rng = np.random.default_rng([seed, i])
        pq.write_table(makers[name](rng, n), os.path.join(sf_dir, f"{name}.parquet"))
