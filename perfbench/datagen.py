"""Seeded synthetic inputs with the shape of the engine's testdata tables.

The benchmark never reads data from outside its checkout: every table it
queries is generated here from ``--seed``. The same seed always yields
byte-identical tables; different seeds keep the sizes and distributions
and change only the draws.

- ``events``: time-ordered UBA events over 2024-01 (30 days), five event
  types, a user population, a money-like ``value`` and a JSON ``props``.
- ``documents``: bag-of-words texts over a 30-word vocabulary, a language
  and a source tag; 5% are near-duplicates (an earlier text plus
  `` dup``), the property the dedup operators key on.
- ``embeddings``: unit-norm 64-d float32 vectors around 10 labelled
  centres, the clustered layout the IVF index partitions.

Timestamps are written as un-zoned ``timestamp[us]``, the layout
``sources.load_table`` reads as UTC instants.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
DIM = 64
N_LABELS = 10
_JAN_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in epoch micros
_DAY_US = 86_400_000_000


def events_table(seed: int, n: int, n_users: int, days: int = 30) -> pa.Table:
    rng = np.random.default_rng([seed, 1])
    ts = np.sort(rng.integers(_JAN_US, _JAN_US + days * _DAY_US, n))
    return pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype=np.int64)),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(
                np.asarray(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)]
            ),
            "value": pa.array(
                np.round(np.minimum(rng.lognormal(3.3, 1.0, n), 560.0), 2)
            ),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]
            ),
        }
    )


def documents_table(seed: int, n: int, max_words: int = 100) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    vocab = np.asarray(VOCAB, dtype=object)
    texts: list[str] = []
    for i, n_words in enumerate(rng.integers(10, max_words + 1, n)):
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n_words)]))
    langs = np.asarray(LANGS, dtype=object)[rng.choice(5, n, p=LANG_P)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 3])
    centres = rng.normal(size=(N_LABELS, DIM))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    vecs = centres[labels] + rng.normal(scale=0.12, size=(n, DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1))
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * DIM + 1, DIM, dtype=np.int32)), flat
            ),
            "label": pa.array(labels),
        }
    )


def write_tables(out_dir: str, tables: dict[str, pa.Table]) -> None:
    """One ``<name>.parquet`` per table, the layout ``load_table`` reads."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
