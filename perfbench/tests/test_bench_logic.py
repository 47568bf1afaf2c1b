"""The benchmark's own logic: the tail-percentile rule, span self time,
and seed determinism of every generated input."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench.rag import _rewritten_bytes  # noqa: E402
from perfbench.trace import Span, percentile, self_times, summarize, tail_percentile  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    MAX_SHARED_WORDS, PATTERNS, TIMED_OPS, WARMUP, WORKLOADS, make_corpus, make_delta,
    make_schedule,
)


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile(19) is None  # not even the median has 10 beyond
    assert tail_percentile(20) == 50
    assert tail_percentile(100) == 90
    assert tail_percentile(101) == 90
    assert tail_percentile(1000) == 99
    for n in range(20, 400):
        p = tail_percentile(n)
        assert n - -(-p * n // 100) >= 10  # at least 10 beyond p ...
        if p < 99:
            assert n - -(-(p + 1) * n // 100) < 10  # ... and p is the highest


def test_summarize_states_percentile_and_count():
    xs = [float(i) for i in range(1, 101)]
    s = summarize(xs)
    assert (s["n"], s["p50"], s["tail_pct"], s["tail"]) == (100, 50.5, 90, 90.0)
    assert summarize([1.0, 2.0])["tail"] is None
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0


def test_self_time_subtracts_children_once():
    spans = [
        Span("ask", 0.0, 10.0),
        Span("a", 1.0, 4.0, parent=0),
        Span("b", 3.0, 6.0, parent=0),  # overlaps a: covered once
        Span("a.child", 2.0, 3.0, parent=1),
        Span("leaf", 8.0, 9.0, parent=0),
    ]
    assert self_times(spans) == [4.0, 2.0, 3.0, 1.0, 1.0]


def test_same_seed_same_inputs():
    for w in WORKLOADS:
        assert make_schedule(w, 7) == make_schedule(w, 7)
        assert make_schedule(w, 7) != make_schedule(w, 8)
    assert make_delta(7, 3, 5000) == make_delta(7, 3, 5000)
    assert make_delta(7, 3, 5000) != make_delta(8, 3, 5000)
    assert make_corpus(500) == make_corpus(500)


def test_schedule_shape_is_seed_independent():
    # runs of different seeds sample the same points of the cache cycle
    for w in WORKLOADS:
        shapes = {
            tuple((op.kind, op.first is None, op.chat_id is None) for op in make_schedule(w, s))
            for s in range(5)
        }
        assert len(shapes) == 1
    session = {op.kind for op in make_schedule("rag_session", 0)}
    assert session == {"ask", "stream"}  # read-only traffic
    churn = {op.kind for op in make_schedule("rag_churn", 0)}
    assert churn == {"ask", "stream", "upload", "upsert"}


def _block(w: str, seed: int = 0):
    start = len(WARMUP[w])
    return make_schedule(w, seed)[start:start + TIMED_OPS[w]]


def test_timed_blocks_set_the_gated_medians():
    # rag_session: repeats outnumber new asks by more than one, so the
    # median ask is a hit; rag_churn asks only new queries
    asks = [op for op in _block("rag_session") if op.kind in ("ask", "stream")]
    hits = sum(op.first is not None for op in asks)
    assert hits - (len(asks) - hits) >= 2
    assert all(op.first is None for op in _block("rag_churn") if op.kind in ("ask", "stream"))
    for w in WORKLOADS:
        block = _block(w)
        # 3 streams, all hits or all misses, give a median time to first
        # chunk of one kind; at least 3 new queries give a median miss
        streams = [op for op in block if op.kind == "stream"]
        assert len(streams) == 3 and len({op.first is None for op in streams}) == 1
        assert sum(op.kind in ("ask", "stream") and op.first is None for op in block) >= 3


def test_rewritten_bytes_counts_new_and_changed_files_only():
    before = {"a": (10, 1), "b": (20, 1), "c": (30, 1)}
    after = {"a": (10, 1), "b": (25, 2), "d": (7, 3)}  # c removed, b changed, d new
    assert _rewritten_bytes(before, after) == 25 + 7


def test_repeats_are_exact_and_distinct_queries_far_apart():
    ops = make_schedule("rag_session", 3)
    new = [op for op in ops if op.kind in ("ask", "stream") and op.first is None]
    for op in ops:
        if op.first is not None:
            assert op.text == ops[op.first].text and ops[op.first].first is None
    sets = [set(op.text.split()) for op in new]
    assert all(
        len(a & b) <= MAX_SHARED_WORDS for i, a in enumerate(sets) for b in sets[i + 1:]
    )
    churn = make_schedule("rag_churn", 3)
    assert all(op.first is None for op in churn)
