"""Deterministic input tables for the benchmark.

Writes `events`, `documents` and `embeddings` parquet tables with the same
schemas and value shapes as graft's harness testdata (TESTDATA.md), so every
query the benchmark runs reads inputs the benchmark itself made. The tables
depend only on `DATA_SEED` and the row counts below: the batch workloads'
pinned result fingerprints (pins.json) are valid for exactly these tables.
The workload seed never changes them; it picks the stream slice and the
query order instead.

Usage: python3 gen.py <out_dir>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20240101
N_EVENTS = 100_000   # sf0.1
N_DOCS = 500         # sf0.01
N_VECS = 500         # sf0.01
DIM = 64
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
VOCAB = np.array("a agg batch big column customer data fast filter group hash "
                 "join key line merge order part query row scan slow small sort "
                 "spark stream table the value vector window".split())
LANGS = np.array(["en", "en", "en", "zh", "es", "fr", "de"])


def events(rng):
    gaps = rng.exponential(26.0, N_EVENTS)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = t0 + (np.cumsum(gaps) * 1e6).astype("int64").astype("timedelta64[us]")
    k = rng.integers(0, 100, N_EVENTS)
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS, dtype="int64")),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, N_EVENTS), pa.int64()),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, N_EVENTS)]),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2)),
        "props": pa.array([f'{{"k": {x}}}' for x in k]),
    })


def documents(rng):
    texts = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.05:
            # near duplicate of an earlier document: one word swapped for `dup`
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = "dup"
        elif i >= 20 and rng.random() < 0.01:
            words = texts[int(rng.integers(0, i))].split()  # exact duplicate
        else:
            words = list(VOCAB[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.integers(0, len(LANGS), N_DOCS)]),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng):
    label = rng.integers(0, 10, N_VECS).astype("int32")
    centres = rng.normal(0.0, 1.0, (10, DIM))
    v = rng.normal(0.0, 1.0, (N_VECS, DIM)) + 0.6 * centres[label]
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype="int64")),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def main(out):
    rng = np.random.default_rng(DATA_SEED)
    os.makedirs(out, exist_ok=True)
    for name, make in (("events", events), ("documents", documents),
                       ("embeddings", embeddings)):
        pq.write_table(make(rng), os.path.join(out, f"{name}.parquet"))


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])
