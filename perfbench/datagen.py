"""Inputs of the benchmark workloads.

The tables are the sf0.1 ``documents`` and ``embeddings`` tables of the
repository's test data (TESTDATA.md), copied byte for byte into
``data/sf0.1`` so that a run reads nothing outside its checkout:

- ``documents``: 5,000 rows (doc_id, text, lang, source, n_chars);
- ``embeddings``: 2,000 L2-normalized float32 vectors of dimension 64
  (vec_id, embedding, label).

The tables are fixed. The seed picks every operation argument over
them: query texts are word windows of a seeded document, query and
upsert vectors are seeded rows of ``embeddings``, and upserted texts
are seeded rows of ``documents``.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow.parquet as pq

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
TABLES = ("documents", "embeddings")


def table_path(name: str) -> str:
    return os.path.join(SF_DIR, f"{name}.parquet")


def sha256(name: str) -> str:
    with open(table_path(name), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def documents() -> list[dict]:
    """[{id, text, lang, source}] in doc_id order; ids are str(doc_id)."""
    rows = pq.read_table(table_path("documents")).to_pylist()
    rows.sort(key=lambda r: r["doc_id"])
    return [
        {"id": str(r["doc_id"]), "text": r["text"], "lang": r["lang"], "source": r["source"]}
        for r in rows
    ]


def vectors() -> np.ndarray:
    """n × 64 float32 matrix of the embeddings, row i = vec_id i."""
    t = pq.read_table(table_path("embeddings")).to_pydict()
    order = np.argsort(t["vec_id"])
    x = np.asarray(t["embedding"], dtype=np.float32)[order]
    if not np.array_equal(np.asarray(t["vec_id"])[order], np.arange(len(x))):
        raise ValueError("embeddings: vec_id is not 0..n-1")
    return x


def query_text(rng: np.random.Generator, docs: list[dict], lo: int = 2, hi: int = 6) -> str:
    """A window of ``lo``..``hi`` consecutive words of a seeded document."""
    words = docs[int(rng.integers(0, len(docs)))]["text"].split()
    n = min(int(rng.integers(lo, hi + 1)), len(words))
    start = int(rng.integers(0, len(words) - n + 1))
    return " ".join(words[start : start + n])
