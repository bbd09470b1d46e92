"""Seeded ``documents`` and ``embeddings`` in the shape of the registry's
test data.

Writes ``documents.parquet`` and ``embeddings.parquet`` with the row
counts of scale factor ``sf`` (sf 0.1: 5000 documents, 2000 embeddings).
Values are uniform over the same domains as the reference test data, plus
a share of near-duplicate documents and vectors so the dedup operators
find clusters.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark stream batch query table column row join agg scan sort merge "
    "filter group hash key value order line part customer fast slow big "
    "small data vector the a"
).split()
LANGS = ("en", "zh", "de", "fr", "es")
LANG_P = (0.41, 0.15, 0.14, 0.15, 0.15)
NEAR_DUP_SHARE = 0.05
EMBED_DIM = 64


def documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < NEAR_DUP_SHARE:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[k] for k in rng.integers(0, len(WORDS),
                                                    int(rng.integers(8, 100)))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[k] for k in rng.choice(5, n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def embeddings(rng, n: int) -> pa.Table:
    centers = rng.normal(0.0, 1.0, (10, EMBED_DIM))
    label = rng.integers(0, 10, n)
    v = centers[label] + rng.normal(0.0, 0.6, (n, EMBED_DIM))
    dup = np.flatnonzero(rng.random(n) < NEAR_DUP_SHARE)
    dup = dup[dup > 0]
    src = (rng.random(len(dup)) * dup).astype(int)
    v[dup] = v[src] + rng.normal(0.0, 0.01, (len(dup), EMBED_DIM))
    label[dup] = label[src]
    emb = pa.FixedSizeListArray.from_arrays(
        pa.array(v.astype(np.float32).ravel()), EMBED_DIM
    ).cast(pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(label.astype(np.int32)),
    })


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write both tables for ``sf`` into ``out_dir``."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(documents(rng, int(50_000 * sf)),
                   os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings(rng, int(20_000 * sf)),
                   os.path.join(out_dir, "embeddings.parquet"))
