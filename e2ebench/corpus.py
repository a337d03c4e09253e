"""Seeded inputs of the batch analytics passes: a ``documents`` and an
``embeddings`` table with the columns and value shapes of the repo's
synthetic test tables, written as parquet inside the run's work
directory.

Documents are 10-100 words drawn from a small vocabulary; every 20th is
an earlier document with a word appended (a near duplicate, for the
MinHash/LSH and SimHash pairs) and every 50th an exact copy (for exact
dedup). Embeddings are random unit vectors with a class label.
"""

from __future__ import annotations

import hashlib
import math
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = """a agg batch big column customer data fast filter group hash join key
line merge order part query row scan slow small sort spark stream table the
value vector window""".split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_WEIGHTS = [0.4, 0.15, 0.15, 0.15, 0.15]
SOURCES = 20
EMB_DIM = 64
EMB_LABELS = 10


def make_documents(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 11])
    texts: list[str] = []
    for i in range(n):
        if i >= 50 and i % 50 == 0:
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 20 and i % 20 == 0:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = rng.choice(VOCAB, int(rng.integers(10, 101)))
            texts.append(" ".join(words.tolist()))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_WEIGHTS).tolist(), pa.string()),
        "source": pa.array([f"src{i % SOURCES}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def make_embeddings(seed: int, n: int) -> pa.Table:
    rng = np.random.default_rng([seed, 12])
    v = rng.normal(size=(n, EMB_DIM))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, EMB_LABELS, n).astype(np.int32)),
    })


def write_corpus(seed: int, n_docs: int, n_embs: int, out_dir: str) -> None:
    """``documents.parquet`` and ``embeddings.parquet`` under ``out_dir``,
    the layout the program's query functions read."""
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(make_documents(seed, n_docs), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(make_embeddings(seed, n_embs), os.path.join(out_dir, "embeddings.parquet"))


# The batch queries the traced analytics passes run: those of bench.py's
# headline set that reach llm.dedup, llm.text and llm.similarity. They
# read only the generated corpus; the other headline queries need the
# TPC-H-style test tables, which the benchmark does not generate.
QUERIES = ["doc_exact_dedup", "doc_token_stats", "doc_lang_id", "doc_minhash_lsh_pairs",
           "doc_simhash", "emb_cosine_topk"]


def _norm(v):
    if isinstance(v, (float, Decimal)) and not isinstance(v, bool):
        v = float(v)
        return "NaN" if math.isnan(v) else round(v, 9) + 0.0
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def digest(columns: list[str], rows) -> tuple[int, str]:
    """Row count and a hash of a query result that ignores row and
    column order: every row as its values in column-name order, doubles
    rounded to 9 places, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    normed = sorted((tuple(_norm(row[i]) for i in order) for row in rows), key=repr)
    return len(normed), hashlib.sha256(repr(normed).encode()).hexdigest()[:16]
