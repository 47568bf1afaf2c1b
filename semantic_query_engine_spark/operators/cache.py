"""Semantic LFU cache, held on the driver (SURVEY A12-A14).

The reference keeps <=1000 {embedding, response, freq} entries in a Redis
list, does a client-side linear cosine scan with hit threshold 0.96,
bumps freq on hit, and evicts the first minimum-freq entry at capacity
(reference app/main.py:42-44,67-128).

The cache is per-ask serving state bounded by its capacity, so it lives
where the reference scans it: in the client, here the Spark driver, as a
NumPy matrix.  As a DataFrame (a union of 1-row frames) every ask would
pay Spark jobs over <= capacity rows (~1.1 s per probe on 4 cores) and
every probe and put would grow its lineage.  Retrieval over the chunk
index, which does need the data, stays a Spark plan.

Scores are bit-identical to functions.vectors.cosine: dot products and
norms are left folds (cumsum) in the order of Spark's `aggregate`, with
the same zero-norm guard.  Entry ids are assigned in insertion order, so
an entry's id is also its insert_seq: the LFU tie-break is made
deterministic via (freq, insert_seq) ordering — the reference's "first
minimum in list order" is list-position-dependent
(reference app/main.py:107-114).  `eviction_candidate` is the
same rule as a plan over a cache table.
"""

from __future__ import annotations

from typing import Iterable, Optional

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CACHE_CAPACITY = 1000  # /root/reference/app/main.py:42
CACHE_SIM_THRESHOLD = 0.96  # /root/reference/app/main.py:44


def _fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Row-wise a.b summed left to right, as Spark's aggregate does."""
    return np.cumsum(a * b, axis=-1)[..., -1]


class SemanticCache:
    """Capacity-bounded LFU cache of (embedding, response) entries."""

    def __init__(
        self, capacity: int = CACHE_CAPACITY, threshold: float = CACHE_SIM_THRESHOLD
    ):
        if capacity < 1:
            raise ValueError("cache capacity must be at least 1")
        self.capacity = capacity
        self.threshold = threshold
        self.embedding = np.zeros((0, 0))
        self.norm = np.zeros(0)
        self.entry_id = np.zeros(0, dtype=np.int64)
        self.freq = np.zeros(0, dtype=np.int64)
        self.response: list[str] = []
        self._last_id = 0

    def probe(self, query_vec: Iterable[float]) -> Optional[str]:
        """Top-1 cosine over entries if >= threshold, ties to the lowest
        entry_id; bumps the hit's freq (reference app/main.py:67-98)."""
        if not self.response:
            return None
        q = np.asarray(query_vec, dtype=np.float64)
        qn = np.sqrt(_fold_dot(q, q))
        with np.errstate(divide="ignore", invalid="ignore"):
            score = np.where(
                (self.norm == 0.0) | (qn == 0.0),
                0.0,
                _fold_dot(self.embedding, q) / (self.norm * qn),
            )
        best = np.flatnonzero(score == score.max())
        hit = best[np.argmin(self.entry_id[best])]
        if score[hit] < self.threshold:
            return None
        self.freq[hit] += 1
        return self.response[hit]

    def put(self, query_vec: Iterable[float], response: str) -> None:
        """Insert with freq=1; at capacity, overwrite the LFU entry, the
        minimum (freq, insert_seq) (reference app/main.py:121-128)."""
        vec = np.asarray(query_vec, dtype=np.float64)
        n = len(self.response)
        if n < self.capacity:
            self.embedding = np.vstack([self.embedding, vec]) if n else vec[None, :]
            self.norm = np.append(self.norm, 0.0)
            self.entry_id = np.append(self.entry_id, 0)
            self.freq = np.append(self.freq, 0)
            self.response.append(response)
            slot = n
        else:
            slot = np.lexsort((self.entry_id, self.freq))[0]
            self.embedding[slot] = vec
            self.response[slot] = response
        self._last_id += 1
        self.norm[slot] = np.sqrt(_fold_dot(vec, vec))
        self.entry_id[slot] = self._last_id
        self.freq[slot] = 1

    def stats(self) -> dict:
        return {"entries": len(self.response), "total_hits": int(self.freq.sum())}


def eviction_candidate(cache: DataFrame) -> DataFrame:
    """The one row LFU would evict from a cache table: min freq, ties
    broken by lowest insert_seq (SURVEY A13)."""
    return cache.orderBy(F.asc("freq"), F.asc("insert_seq")).limit(1)
