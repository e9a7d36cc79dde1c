"""Answer checks computed apart from the program.

- ``encode``: the feature-hashing text encoding, written out here from
  its definition (md5 of each lower-cased token: bucket = hash mod dim,
  sign = top bit; L2-normalized), so the session checks do not call the
  program's encoder.
- ``Corpus``: the workload's own model of the live index (id → vector
  and metadata), kept through every upsert and delete.
- ``topk_ok``: a returned top-k against a numpy brute-force cosine
  ranking of the model. Ids tied at the k-th score are interchangeable;
  every score must match to ``TOL``.
- ``canonical_hash``: the order-insensitive value hash of a result set,
  the same for a Spark and a DuckDB answer when the values are equal.
"""

from __future__ import annotations

import hashlib
import json
import math
from decimal import Decimal

import numpy as np

TOL = 1e-6


def encode(text: str, dim: int = 64) -> np.ndarray:
    v = np.zeros(dim)
    for tok in text.lower().split():
        h = int.from_bytes(hashlib.md5(tok.encode()).digest()[:8], "big")
        v[h % dim] += 1.0 if (h >> 63) & 1 else -1.0
    n = np.linalg.norm(v)
    return v / n if n else v


class Corpus:
    """id → (float32-stored vector, metadata). Vectors are kept as the
    program stores them (float32) and scored in float64."""

    def __init__(self):
        self.rows: dict = {}
        self._mat = None

    def put(self, key, vector, **meta) -> None:
        self.rows[key] = (np.asarray(vector, dtype=np.float32), meta)
        self._mat = None

    def drop(self, keys) -> set:
        present = {k for k in keys if k in self.rows}
        for k in present:
            del self.rows[k]
        self._mat = None
        return present

    def __len__(self) -> int:
        return len(self.rows)

    def __contains__(self, key) -> bool:
        return key in self.rows

    def meta(self, key) -> dict:
        return self.rows[key][1]

    def scores(self, q, where=None) -> dict:
        """{id: cosine(q, vector)} over the rows that pass ``where``."""
        if self._mat is None:
            keys = list(self.rows)
            m = np.stack([self.rows[k][0] for k in keys]).astype(np.float64)
            norms = np.linalg.norm(m, axis=1)
            self._mat = (keys, m, norms)
        keys, m, norms = self._mat
        q = np.asarray(q, dtype=np.float64)
        qn = np.linalg.norm(q)
        denom = norms * qn
        dots = m @ q
        s = np.divide(dots, denom, out=np.zeros_like(dots), where=denom != 0)
        return {
            k: float(x)
            for k, x in zip(keys, s)
            if where is None or where(self.rows[k][1])
        }


def topk_ok(hits, truth: dict, k: int, descending: bool = True) -> bool:
    """``hits`` is [(id, score), ...] in returned order; ``truth`` is
    {id: exact score} over every eligible row."""
    want = min(k, len(truth))
    if len(hits) != want or len({h[0] for h in hits}) != want:
        return False
    sign = 1.0 if descending else -1.0
    prev = math.inf
    for key, score in hits:
        if key not in truth or abs(float(score) - truth[key]) > TOL:
            return False
        if sign * float(score) > prev + TOL:
            return False
        prev = sign * float(score)
    if want == 0:
        return True
    ranked = sorted((sign * s for s in truth.values()), reverse=True)
    kth = ranked[want - 1]
    got = {h[0] for h in hits}
    for key, s in truth.items():
        if sign * s > kth + TOL and key not in got:
            return False
    return all(sign * truth[key] >= kth - TOL for key in got)


def _canon(v):
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, (int, float, Decimal, np.integer, np.floating)):
        f = float(v)
        return "NaN" if math.isnan(f) else f
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return [_canon(x) for x in v]
    if isinstance(v, dict):
        return {str(a): _canon(b) for a, b in sorted(v.items())}
    return str(v)


def canonical_hash(columns, rows) -> dict:
    """{"rows", "columns", "sha256"} of a result: columns sorted by
    name, each row re-ordered to match, rows sorted, numbers compared
    as floats (DuckDB and Spark may type one value as int and double)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        json.dumps([_canon(r[i]) for i in order]) for r in rows
    )
    digest = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return {
        "rows": len(lines),
        "columns": sorted(columns),
        "sha256": digest,
    }
