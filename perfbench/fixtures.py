"""Seeded sf0.1-shaped parquet tables for the benchmark.

The benchmark reads nothing outside its checkout, so it writes its own
copy of the catalog tables the API routes and the curation funnel read:
`events` (100k rows over 1500 user ids, the `transactions` serving view's
source), `documents`, `embeddings`, and the two tables `/infoapi` only
counts (`customer`, `orders`). Shapes follow the catalog fixtures
(FIXTURES.md): 5 event types, a 30-word vocabulary with two stopwords,
10-100 token documents, 64-dim embeddings around 10 labels.

Everything is a pure function of the seed: same seed, same bytes.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_EVENTS = 100_000
N_USERS = 1500
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EMB_DIM = 64
N_LABELS = 10
N_SOURCES = 20


def write_events(path: str, seed: int, n: int = N_EVENTS) -> None:
    rng = np.random.default_rng([seed, 1])
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    table = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, n, dtype=np.int64)),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), n)]
        ),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(
            [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]
        ),
    })
    pq.write_table(table, path)


def make_documents(seed: int, n: int) -> dict[str, list]:
    """`n` documents; about 5% are near copies of an earlier one (one
    token swapped for the marker word `dup`)."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
        else:
            toks = list(
                np.array(VOCAB)[rng.integers(0, len(VOCAB),
                                             int(rng.integers(10, 101)))]
            )
        texts.append(" ".join(toks))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    return {
        "doc_id": list(range(n)),
        "text": texts,
        "lang": [str(x) for x in langs[rng.integers(0, len(langs), n)]],
        "source": [f"src{i % N_SOURCES}" for i in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def doc_table(cols: dict[str, list]) -> pa.Table:
    return pa.table({
        "doc_id": pa.array(cols["doc_id"], pa.int64()),
        "text": pa.array(cols["text"], pa.string()),
        "lang": pa.array(cols["lang"], pa.string()),
        "source": pa.array(cols["source"], pa.string()),
        "n_chars": pa.array(cols["n_chars"], pa.int64()),
    })


def label_centroids(seed: int) -> np.ndarray:
    rng = np.random.default_rng([seed, 3])
    c = rng.normal(size=(N_LABELS, EMB_DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def embedding_rows(seed: int, ids: np.ndarray, labels: np.ndarray,
                   noise: np.ndarray) -> pa.Table:
    """One 64-dim float32 vector per id: its label's centroid plus
    `noise`-scaled gaussian noise (small noise = semantic duplicate)."""
    rng = np.random.default_rng([seed, 4])
    cent = label_centroids(seed)
    v = cent[labels] + rng.normal(size=(len(ids), EMB_DIM)) * noise[:, None]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(ids.astype(np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def write_catalog(sf_dir: str, seed: int) -> None:
    """The tables the API routes read, in the catalog layout
    (`<sf_dir>/<name>.parquet`)."""
    os.makedirs(sf_dir, exist_ok=True)
    write_events(f"{sf_dir}/events.parquet", seed)
    pq.write_table(doc_table(make_documents(seed, 5000)),
                   f"{sf_dir}/documents.parquet")
    rng = np.random.default_rng([seed, 5])
    pq.write_table(pa.table({
        "c_custkey": pa.array(np.arange(1, 15_001, dtype=np.int64)),
        "c_nationkey": pa.array(rng.integers(0, 25, 15_000, dtype=np.int64)),
    }), f"{sf_dir}/customer.parquet")
    base = dt.date(1992, 1, 1)
    pq.write_table(pa.table({
        "o_orderkey": pa.array(np.arange(1, 150_001, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(1, 15_001, 150_000,
                                           dtype=np.int64)),
        "o_orderdate": pa.array(
            [base + dt.timedelta(days=int(d))
             for d in rng.integers(0, 2400, 150_000)], pa.date32()),
    }), f"{sf_dir}/orders.parquet")
