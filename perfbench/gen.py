"""Seeded table generator for the benchmark.

Writes ``documents``, ``embeddings`` and ``events`` as parquet with the
schema of the engine's test tables, at any row count. The shape matches
the sf0.1 test tables:

* documents: 10..99 tokens drawn uniformly from a 30-word vocabulary;
  5% of texts are another document's text followed by `` dup`` (the
  31st token); ``lang`` is ``en`` for about 41% and ``zh``/``es``/
  ``fr``/``de`` share the rest; ``source`` cycles over 20 values;
  ``n_chars`` is the text length.
* embeddings: 64-d points close to uniform on the unit sphere (a weak
  per-label mean plus isotropic noise), 10 labels, per-label mean norms
  near 0.07.
* events: 15 users per 1000 events, timestamps sorted over 30 days,
  5 event types, exponential values (mean 50), ``props`` a small JSON.

Ids are dense from 0. Geo points derive from the id, so they change
with the row count and not with the seed; everything else follows the
seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
N_SOURCES = 20
DUP_SHARE = 0.05
EMB_D = 64
N_LABELS = 10
CLASS_MEAN_NORM = 0.1  # weak class signal: per-label mean norms stay near the
# 1/sqrt(rows per label) noise floor, as in the test tables
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
USERS_PER_1K_EVENTS = 15
EVENT_SPAN_US = 30 * 86400 * 10**6
EPOCH_2024_US = 1704067200 * 10**6

DOCUMENTS_SCHEMA = pa.schema([
    ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
    ("source", pa.string()), ("n_chars", pa.int64()),
])
EMBEDDINGS_SCHEMA = pa.schema([
    ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
    ("label", pa.int32()),
])
EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()), ("event_type", pa.string()),
    ("value", pa.float64()), ("props", pa.string()),
])


def documents(n: int, rng: np.random.Generator) -> pa.Table:
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 100, size=n)
    words = vocab[rng.integers(0, len(VOCAB), size=int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(ws) for ws in np.split(words, cuts)]
    dups = np.flatnonzero(rng.random(n) < DUP_SHARE)
    bases = rng.integers(0, n, size=len(dups))
    for d, b in zip(dups, bases):
        if d != b:
            texts[d] = texts[b] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), size=n, p=LANG_P)],
            "source": [f"src{i % N_SOURCES}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        },
        schema=DOCUMENTS_SCHEMA,
    )


def embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    means = rng.normal(size=(N_LABELS, EMB_D))
    means *= CLASS_MEAN_NORM / np.linalg.norm(means, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, size=n)
    x = means[labels] + rng.normal(size=(n, EMB_D))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), type=pa.float32())
    vecs = pa.FixedSizeListArray.from_arrays(flat, EMB_D).cast(
        pa.list_(pa.float32())
    )
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": vecs,
            "label": labels.astype(np.int32),
        },
        schema=EMBEDDINGS_SCHEMA,
    )


def events(n: int, rng: np.random.Generator) -> pa.Table:
    n_users = max(1, n * USERS_PER_1K_EVENTS // 1000)
    ts = EPOCH_2024_US + np.sort(rng.integers(0, EVENT_SPAN_US, size=n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "user_id": rng.integers(0, n_users, size=n).astype(np.int64),
            "event_type": np.array(EVENT_TYPES)[
                rng.integers(0, len(EVENT_TYPES), size=n)
            ],
            "value": np.round(rng.exponential(50.0, size=n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)],
        },
        schema=EVENTS_SCHEMA,
    )


def write_tables(out_dir: str, seed: int, n_docs: int, n_emb: int,
                 n_events: int) -> dict[str, int]:
    """Write the three tables under ``out_dir`` and return their row
    counts. Each table draws from its own child stream of ``seed``, so
    changing one table's size leaves the others' contents unchanged."""
    os.makedirs(out_dir, exist_ok=True)
    rngs = np.random.default_rng(seed).spawn(3)
    tables = {
        "documents": documents(n_docs, rngs[0]),
        "embeddings": embeddings(n_emb, rngs[1]),
        "events": events(n_events, rngs[2]),
    }
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
