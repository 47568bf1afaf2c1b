"""Semantic LFU cache semantics (SURVEY A12-A14,
/root/reference/app/main.py:42-44,67-128): probe threshold, freq bump,
LFU eviction with deterministic tie-break, capacity ceiling."""

from __future__ import annotations

import numpy as np
from pyspark.sql import types as T

from semantic_query_engine_spark.functions.vectors import cosine
from semantic_query_engine_spark.operators import cache as C

SCHEMA = T.StructType(
    [
        T.StructField("entry_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        T.StructField("response", T.StringType()),
        T.StructField("freq", T.LongType()),
        T.StructField("insert_seq", T.LongType()),
    ]
)


def _cache(entries, capacity=C.CACHE_CAPACITY, threshold=C.CACHE_SIM_THRESHOLD):
    """A driver cache holding `entries` [(embedding, response)] with
    entry ids 1.. in list order."""
    cache = C.SemanticCache(capacity, threshold)
    for vec, resp in entries:
        cache.put(vec, resp)
    return cache


def test_probe_hit_and_miss():
    cache = _cache([([1.0, 0.0], "resp_a"), ([0.0, 1.0], "resp_b")])
    assert cache.probe([1.0, 0.0]) == "resp_a"
    # orthogonal-ish query: below 0.96 -> miss (reference app/main.py:89-90)
    assert cache.probe([0.7, 0.714]) is None
    assert C.SemanticCache().probe([1.0, 0.0]) is None  # empty cache


def test_probe_equal_scores_go_to_lowest_entry_id():
    # cos = 1.0 exactly for both: [2, 0] is [1, 0] scaled
    cache = _cache([([2.0, 0.0], "first"), ([1.0, 0.0], "second")])
    assert cache.probe([1.0, 0.0]) == "first"
    assert cache.freq.tolist() == [2, 1]


def test_probe_zero_norm_scores_zero():
    cache = _cache([([0.0, 0.0], "zero"), ([1.0, 0.0], "x")], threshold=0.0)
    # the guard makes every score 0.0 (no NaN): a tie at the threshold,
    # so the lowest entry_id hits
    assert cache.probe([0.0, 0.0]) == "zero"
    assert _cache([([1.0, 0.0], "x")]).probe([0.0, 0.0]) is None


def test_probe_scores_equal_spark_cosine_bit_for_bit(spark):
    rng = np.random.default_rng(7)
    pairs = [(rng.normal(size=64).tolist(), rng.normal(size=64).tolist()) for _ in range(8)]
    df = spark.createDataFrame(pairs, "a array<double>, b array<double>")
    for r in df.select("a", "b", cosine("a", "b").alias("s")).collect():
        # a threshold of exactly Spark's score hits; one ulp above misses
        assert _cache([(r.a, "hit")], threshold=r.s).probe(r.b) == "hit"
        above = np.nextafter(r.s, np.inf)
        assert _cache([(r.a, "hit")], threshold=above).probe(r.b) is None


def test_bump_freq():
    cache = _cache([([1.0, 0.0], "a"), ([0.0, 1.0], "b")])
    for _ in range(4):
        cache.probe([0.0, 1.0])
    assert dict(zip(cache.entry_id.tolist(), cache.freq.tolist())) == {1: 1, 2: 5}
    assert cache.stats() == {"entries": 2, "total_hits": 6}


def test_evict_lfu_tiebreak(spark):
    # freq tie between b and c -> lowest insert_seq (b) goes first
    cache = _cache(
        [([1.0, 0.0, 0.0], "a"), ([0.0, 1.0, 0.0], "b"), ([0.0, 0.0, 1.0], "c")],
        capacity=3,
    )
    for _ in range(8):
        cache.probe([1.0, 0.0, 0.0])
    cache.put([1.0, 1.0, 0.0], "d")
    assert sorted(cache.response) == ["a", "c", "d"]
    # the same rule as a plan over a cache table
    table = spark.createDataFrame(
        [
            (1, [1.0], "a", 9, 3),
            (2, [1.0], "b", 1, 2),
            (3, [1.0], "c", 1, 1),
        ],
        SCHEMA,
    )
    cand = C.eviction_candidate(table).collect()
    assert cand[0].entry_id == 3


def test_put_respects_capacity():
    cache = _cache([([float(i == j) for j in range(3)], f"r{i}") for i in range(3)], capacity=3)
    cache.probe([0.0, 1.0, 0.0])
    cache.probe([0.0, 0.0, 1.0])
    cache.probe([0.0, 0.0, 1.0])
    cache.put([0.5, 0.5, 0.0], "new")
    # r0 had min freq -> evicted; the new entry takes the next id
    assert sorted(cache.response) == ["new", "r1", "r2"]
    assert sorted(cache.entry_id.tolist()) == [2, 3, 4]
    assert cache.stats()["entries"] == 3
    assert cache.probe([1.0, 0.0, 0.0]) is None
    assert cache.probe([0.5, 0.5, 0.0]) == "new"
