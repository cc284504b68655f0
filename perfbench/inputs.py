"""Seed-derived parquet tables for the harness_queries workload.

The tables reproduce the documents / embeddings / events tables the
harness queries were written against (the repository's sf0.001, sf0.01 and
sf0.1 test data), as measured on those files:

- rows: ``max(500, 50000 * sf)`` documents, ``max(500, 20000 * sf)``
  embeddings, ``1e6 * sf`` events over ``15000 * sf`` users;
- documents: 10-99 words drawn uniformly from a 30-word vocabulary; exactly
  5% of them, at random positions, are replaced in order by a copy of a
  random document plus the word ``dup`` (so a few exact copies arise when
  two pick the same source); language ``en`` 40%, ``de``/``fr``/``es``/``zh``
  15% each, drawn independently of the source; ``source`` is ``src<id % 20>``;
- embeddings: 64-d Gaussian vectors scaled to unit length, labels 0-9;
- events: timestamps uniform over 30 days from 2024-01-01 and sorted, users
  and the five event types uniform, values exponential with mean 50 rounded
  to cents, ``props`` ``{"k": 0..99}``.

The same seed always yields byte-identical tables.
"""
from __future__ import annotations

import random

_DOC_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = ("en", "de", "fr", "es", "zh")
_LANG_WEIGHTS = (0.40, 0.15, 0.15, 0.15, 0.15)
_EVENT_TYPES = ("signup", "click", "error", "view", "purchase")


def table_rows(sf: float) -> dict:
    return {
        "documents": max(500, int(50000 * sf)),
        "embeddings": max(500, int(20000 * sf)),
        "events": int(1_000_000 * sf),
        "users": int(15000 * sf),
    }


def harness_tables(seed: int, out_dir: str, sf: float) -> None:
    """Write documents / embeddings / events parquet tables to ``out_dir``."""
    import os
    from datetime import datetime, timedelta

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = table_rows(sf)
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)

    n_docs = rows["documents"]
    texts = [
        " ".join(rng.choice(_DOC_WORDS) for _ in range(rng.randint(10, 99)))
        for _ in range(n_docs)
    ]
    for i in sorted(rng.sample(range(n_docs), n_docs // 20)):
        texts[i] = texts[rng.randrange(n_docs)] + " dup"
    langs = rng.choices(_LANGS, weights=_LANG_WEIGHTS, k=n_docs)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": texts,
                "lang": langs,
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        f"{out_dir}/documents.parquet",
    )

    nrng = np.random.default_rng(seed)
    n_vec = rows["embeddings"]
    vecs = nrng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vec), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(nrng.integers(0, 10, n_vec), pa.int32()),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )

    n_ev = rows["events"]
    start = datetime(2024, 1, 1)
    offsets = np.sort(nrng.uniform(0, 30 * 86400, n_ev))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(n_ev), pa.int64()),
                "ts": pa.array(
                    [start + timedelta(seconds=float(s)) for s in offsets],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array(
                    nrng.integers(0, rows["users"], n_ev), pa.int64()
                ),
                "event_type": [
                    _EVENT_TYPES[k] for k in nrng.integers(0, 5, n_ev)
                ],
                "value": np.round(nrng.exponential(50.0, n_ev), 2),
                "props": [f'{{"k": {k}}}' for k in nrng.integers(0, 100, n_ev)],
            }
        ),
        f"{out_dir}/events.parquet",
    )
