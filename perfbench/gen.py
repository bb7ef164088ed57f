"""Seeded generator of the tables the curation and index keys read.

The tables have the schemas of the program's test data (TESTDATA.md)
(`documents`, `events`, `embeddings`) and the same kind of content: a
small fixed vocabulary with near-duplicate and exact-duplicate documents,
per-user event sequences whose `props` carry a page id, and unit-norm
64-dimensional embeddings drawn around ten cluster centres. The same seed
and sizes always give byte-identical parquet files.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "fast row the agg key query a scan batch big hash join line part "
         "order sort filter group slow customer").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
DIM = 64
TABLES = ("documents", "events", "embeddings")


def documents(rng, n):
    words = np.array(VOCAB)
    texts = []
    for i in range(n):
        u = rng.random()
        if i > 20 and u < 0.05:
            # near-duplicate of an earlier document: a few words swapped
            src = texts[int(rng.integers(0, i))].split(" ")
            src = [w for w in src if w != "dup"]
            for _ in range(max(1, len(src) // 25)):
                src[int(rng.integers(0, len(src)))] = words[int(rng.integers(0, len(words)))]
            texts.append(" ".join(src) + " dup")
        elif i > 20 and u < 0.052:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(words[rng.integers(0, len(words), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(len(LANGS), n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def events(rng, n):
    users = max(10, n // 66)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n))
    # page ids drawn from a skewed distribution: a few hot pages
    pages = np.minimum(99, rng.zipf(1.3, n) - 1)
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(start + offs.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, users, n, dtype=np.int64)),
        "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
        "value": pa.array(np.round(rng.exponential(60.0, n), 2)),
        "props": pa.array([f'{{"k": {int(p)}}}' for p in pages]),
    })


def embeddings(rng, n):
    centres = rng.normal(size=(10, DIM))
    label = rng.integers(0, 10, n)
    v = centres[label] + rng.normal(scale=1.5, size=(n, DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel())
    offsets = pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(label.astype(np.int32)),
    })


def generate(out_dir, seed, docs, n_events, vecs):
    """Write the three tables; returns a digest of their bytes."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables = {"documents": documents(rng, docs), "events": events(rng, n_events),
              "embeddings": embeddings(rng, vecs)}
    h = hashlib.sha256()
    for name in TABLES:
        t = tables[name]
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        with open(path, "rb") as fh:
            h.update(name.encode() + hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:24]
