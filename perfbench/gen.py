"""Seeded document generator for the benchmark.

Documents are shaped like the engine's `documents` fixture (doc_id, text,
lang, source, n_chars). The same seed always yields the same rows, so
every workload input is a function of `--seed` alone. Documents are
random word sequences over the vocabulary the engine's
`RuleClassifier.generatedRules` matches on. About 5 % of them are
near-duplicates (an earlier document plus a trailing ` dup` token) and
about 0.2 % exact re-crawls, so the dedup, curation and near-duplicate
paths all have work to do.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window",
         "spark", "part", "group", "big", "sort", "query", "fast", "the",
         "a"]
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.38, 0.155, 0.155, 0.155, 0.155]


def documents(rng, n):
    """n documents with ids 0..n-1 (doc_id, text, lang, source, n_chars)."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
