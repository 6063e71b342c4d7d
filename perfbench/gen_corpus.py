"""Seeded generator for the sf0.1-shaped corpus tables the iterative
workload reads: documents.parquet and embeddings.parquet.

The shapes follow the sf0.1 test tables: 5,000 documents of 10-100 words
from a 30-word vocabulary over five languages and twenty sources, a few
exact and near duplicates, in ONE parquet row group (which is what makes
a documents scan a single task); 2,000 unit-norm 64-d float embeddings
with labels 0-9. The same variant always gives the same bytes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOCS = 5000
N_VECS = 2000
DIM = 64
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]


def documents(rng):
    texts = []
    for i in range(N_DOCS):
        r = rng.random()
        if i > 100 and r < 0.002:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 100 and r < 0.02:  # near duplicate: an earlier doc + one word
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(VOCAB, n)))
    ids = np.arange(N_DOCS, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng):
    v = rng.standard_normal((N_VECS, DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS).astype(np.int32)),
    })


def generate(variant, out):
    """Writes both tables under `out`; returns their row counts."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([0x5EED, variant])
    counts = {}
    for name, table in (("documents", documents(rng)), ("embeddings", embeddings(rng))):
        pq.write_table(table, os.path.join(out, f"{name}.parquet"),
                       row_group_size=1 << 20)
        counts[name] = table.num_rows
    assert counts == {"documents": N_DOCS, "embeddings": N_VECS}, counts
    return counts
