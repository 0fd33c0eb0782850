"""Seeded synthetic inputs for the benchmark workloads.

Writes `events`, `documents` and `embeddings` parquet tables with the
schemas of the project's test fixtures (see TESTDATA.md): a five-type event
stream over 30 days, a 30-word-vocabulary corpus of 20 sources with planted
near-duplicates, and unit-norm 64-dim embeddings in 10 weak clusters. The
same seed and sizes always give byte-identical tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
N_SOURCES = 20
DIM = 64
START_US = 1704067200 * 1_000_000  # 2024-01-01T00:00:00Z
SPAN_US = 30 * 86400 * 1_000_000


def events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    ts = START_US + np.sort(rng.integers(0, SPAN_US, n))
    value = np.round(np.maximum(rng.lognormal(3.55, 0.95, n), 0.01), 2)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n), type=pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts = []
    for i in range(n):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate: an earlier document with a marker token appended
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(8, 93)))
            texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(size=(10, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, 10, n).astype(np.int32)
    vec = 0.15 * centers[label] + rng.normal(scale=1 / 8, size=(n, DIM))
    # planted near-duplicate vectors
    dup = np.where(rng.random(n) < 0.02)[0]
    dup = dup[dup > 0]
    src = rng.integers(0, dup, len(dup)) if len(dup) else dup
    vec[dup] = vec[src] + rng.normal(scale=0.01, size=(len(dup), DIM))
    label[dup] = label[src]
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def write(out_dir: str, seed: int, n_events: int, n_docs: int, n_vecs: int,
          users: int = 150) -> None:
    """Writes the three tables under `out_dir`, each as `<name>.parquet`."""
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "events": events(np.random.default_rng([seed, 1]), n_events, users),
        "documents": documents(np.random.default_rng([seed, 2]), n_docs),
        "embeddings": embeddings(np.random.default_rng([seed, 3]), n_vecs),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
