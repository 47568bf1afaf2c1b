"""Property tests for the text pipeline (SURVEY §5): chunking invariants
from the reference's chunk_text semantics
(/root/reference/app/main.py:379-393) and normalization invariants
(/root/reference/app/main.py:59-64,315-316)."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from semantic_query_engine_spark.functions.vectors import (
    cosine,
    cosine_to_const,
    l2_norm,
    l2_normalize,
    vector_lit,
    with_cosine,
)
from semantic_query_engine_spark.operators.chunking import chunk_documents

TEXTS = st.lists(
    st.text(
        alphabet=st.sampled_from("abcdef \n"),
        min_size=1,
        max_size=200,
    ),
    min_size=1,
    max_size=8,
)


@settings(max_examples=10, deadline=None)
@given(texts=TEXTS)
def test_chunk_invariants(spark, texts):
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        ),
    )
    size = 7
    chunks = chunk_documents(docs, chunk_size=size).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(texts):
        words = t.replace("\n", " ").strip().split()
        got = sorted(by_doc.get(i, []), key=lambda r: r.chunk_id)
        # every chunk <= size words
        for r in got:
            assert len(r.chunk_text.split()) <= size
        # rejoining chunks reproduces the cleaned word stream
        rejoined = " ".join(r.chunk_text for r in got).split()
        assert rejoined == words
        # chunk count == ceil(n/size): like the reference's chunk_text,
        # an empty/whitespace-only document yields ZERO chunks
        assert len(got) == math.ceil(len(words) / size)


def test_normalize_and_cosine_guards(spark):
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0])],
        T.StructType(
            [
                T.StructField("id", T.LongType()),
                T.StructField("v", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    out = df.select(
        "id",
        l2_norm("v").alias("norm"),
        l2_norm(l2_normalize("v")).alias("unit"),
        cosine("v", "v").alias("self_cos"),
    ).collect()
    by_id = {r.id: r for r in out}
    assert abs(by_id[1].norm - 5.0) < 1e-12
    assert abs(by_id[1].unit - 1.0) < 1e-6
    assert abs(by_id[1].self_cos - 1.0) < 1e-12
    # zero vector: guarded cosine -> 0.0, normalize stays finite
    assert by_id[2].self_cos == 0.0
    assert by_id[2].unit == 0.0


def test_with_cosine_accepts_precomputed_norm_named_like_a_temp(spark):
    """A caller-passed norm column is not a temp of the call, so its
    name may match one; a temp the call does create still collides."""
    df = spark.createDataFrame(
        [(1, [3.0, 4.0], [3.0, 4.0], 5.0), (2, [1.0, 0.0], [0.0, 0.0], 0.0)],
        "id long, a array<double>, b array<double>, __score_norm_b double",
    )
    out = with_cosine(df, "a", "b", "score", norm_b="__score_norm_b")
    assert out.columns == df.columns + ["score"]
    by_id = {r.id: r.score for r in out.collect()}
    assert abs(by_id[1] - 1.0) < 1e-12 and by_id[2] == 0.0
    with pytest.raises(ValueError, match="__score_norm_b"):
        with_cosine(df, "a", "b", "score")


@pytest.mark.filterwarnings("ignore:overflow:RuntimeWarning")
def test_cosine_to_const_bit_identical_to_cosine(spark):
    """The one-SQL-string form against a constant equals cosine() with
    the constant as vector_lit, bit for bit: zero rows and a zero
    constant hit the guard, negative components fold in order."""
    df = spark.createDataFrame(
        [(1, [3.0, -4.0, 0.1]), (2, [0.0, 0.0, 0.0]), (3, [-1.5, 2.25, -1e-7])],
        "id long, v array<float>",
    ).withColumn("n", l2_norm("v"))
    for q in ([0.3, -0.7, 1e-3], [0.0, 0.0, 0.0], [-2.0, 5.5, -0.25]):
        got = df.select("id", cosine_to_const("v", "n", q).alias("s"))
        want = df.select("id", cosine("v", vector_lit(q)).alias("s"))
        assert got.orderBy("id").collect() == want.orderBy("id").collect(), q
    assert {r.s for r in got.filter("id = 2").collect()} == {0.0}
    for bad in ([1.0, float("inf"), 0.0], [float("nan"), 0.0, 0.0], [1e200, 1e200, 0.0]):
        # the last is finite, but its norm is not
        with pytest.raises(ValueError, match="non-finite"):
            cosine_to_const("v", "n", bad)


def test_overlap_chunking_invariants(spark):
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.functions.text import words_of
    from semantic_query_engine_spark.operators.chunking import (
        overlap_chunk_array_from_words,
    )

    df = spark.createDataFrame(
        [(i, " ".join(f"w{j}" for j in range(n)))
         for i, n in enumerate([1, 3, 16, 17, 40, 100])],
        ["doc_id", "text"],
    )
    out = df.select(
        "doc_id",
        F.size(words_of(F.col("text"))).alias("n"),
        overlap_chunk_array_from_words(words_of(F.col("text")), 16, 12).alias("cs"),
    ).collect()
    for r in out:
        chunks = [c.split(" ") for c in r.cs]
        assert all(len(c) <= 16 for c in chunks)
        # full coverage: every word index appears in some chunk
        covered = {w for c in chunks for w in c}
        assert len(covered) == r.n
        # consecutive chunks overlap by exactly 4 words when both full
        for a, b in zip(chunks, chunks[1:]):
            if len(a) == 16 and len(b) == 16:
                assert a[-4:] == b[:4]


def test_unigram_perplexity_ranks_gibberish_higher(spark):
    """A document of corpus-frequent words must score lower perplexity
    than one of rare (once-in-corpus) tokens; ppl == exp(-avg_logprob)."""
    import math

    from semantic_query_engine_spark.queries.registry import REGISTRY
    import tempfile, os

    common = "the cat sat on the mat " * 5
    rare = "zyx qwv jkp bnm zzq xxo"
    rows = [(0, common), (1, common), (2, common), (3, rare)]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {
            r.doc_id: r
            for r in REGISTRY["unigram_perplexity"].fn(spark, d).collect()
        }
    assert out[3].ppl > out[0].ppl
    for r in out.values():
        assert math.isclose(r.ppl, math.exp(-r.avg_logprob), rel_tol=1e-3)


def test_dsir_importance_selects_target_slice(spark, sf_dir):
    """DSIR self-selection property: the target slice (doc_id % 10 == 0,
    the docs the target distribution is estimated FROM) must have a
    higher mean log importance weight than the rest of the corpus - the
    weights exist precisely to rank target-like documents up."""
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.queries.mlpipeline_q import dsir_importance

    out = dsir_importance(spark, sf_dir)
    means = (
        out.groupBy((F.col("doc_id") % 10 == 0).alias("is_target"))
        .agg(F.avg("log_weight").alias("m"))
        .collect()
    )
    by = {r.is_target: r.m for r in means}
    assert by[True] > by[False]


def test_bigram_perplexity_shape_and_order_sensitivity(spark, sf_dir):
    """Every >=2-word document gets one row with a negative avg logprob
    and ppl consistent with exp(-avg) at the payload rounding."""
    import math

    from pyspark.sql import functions as F

    from semantic_query_engine_spark.queries.textops import bigram_perplexity
    from semantic_query_engine_spark.sources.fixtures import load_table
    from semantic_query_engine_spark.functions import text as TX

    out = bigram_perplexity(spark, sf_dir)
    rows = out.collect()
    docs = load_table(spark, sf_dir, "documents")
    n_eligible = docs.filter(
        F.size(TX.words_of(F.col("text"))) >= 2
    ).count()
    assert len(rows) == n_eligible
    for r in rows[:50]:
        assert r.avg_logprob < 0
        assert abs(r.ppl - round(math.exp(-r.avg_logprob), 4)) < 1e-3


def test_weighted_sample_es_overrepresents_heavy_docs(spark, sf_dir):
    """ES sampling property: the 50-doc weighted sample's mean weight
    must exceed the corpus mean weight (heavier docs are proportionally
    more likely), and ranks must be 1..50 without gaps."""
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.queries.mlpipeline_q import (
        weighted_sample_es,
    )
    from semantic_query_engine_spark.sources.fixtures import load_table

    out = weighted_sample_es(spark, sf_dir).collect()
    assert sorted(r.rank for r in out) == list(range(1, 51))
    sample_mean = sum(r.weight for r in out) / len(out)
    corpus_mean = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    assert sample_mean > corpus_mean


def test_mixture_token_budget_greedy_prefix(spark, sf_dir):
    """Budget semantics: per source, every selected doc's preceding
    cumulative total is under budget (greedy prefix), the last selected
    doc is the FIRST to reach/cross it, and each source overshoots by
    less than one document (cum_tokens - budget < that doc's length)."""
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.queries.mlpipeline_q import (
        mixture_token_budget,
    )

    out = mixture_token_budget(spark, sf_dir)
    per_source = (
        out.groupBy("source", "budget")
        .agg(F.max("cum_tokens").alias("total"), F.count("*").alias("n"))
        .collect()
    )
    assert per_source
    rows = out.collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r.source, []).append(r)
    for s, rs in by_src.items():
        rs.sort(key=lambda r: r.cum_tokens)
        budget = rs[0].budget
        # all but the last are strictly under budget; the last reaches
        # or crosses it unless the source ran out of documents
        for r in rs[:-1]:
            assert r.cum_tokens < budget
        # prefix property: cum_tokens strictly increasing
        assert all(a.cum_tokens < b.cum_tokens for a, b in zip(rs, rs[1:]))


def test_span_corruption_masks_are_valid_spans(spark, sf_dir):
    """Mask-plan invariants: spans lie inside their document, lengths
    are >= 3 except when clipped by the document end, span_text has
    exactly span_len words, and per-doc span ids are 1..n consecutive."""
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.functions.text import words_of
    from semantic_query_engine_spark.queries.mlpipeline_q import (
        span_corruption_masks,
    )
    from semantic_query_engine_spark.sources.fixtures import load_table

    out = span_corruption_masks(spark, sf_dir).collect()
    assert out
    lens = {
        r.doc_id: r.n
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id", F.size(words_of(F.col("text"))).alias("n"))
        .collect()
    }
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
        n = lens[r.doc_id]
        assert 1 <= r.span_start <= n
        assert r.span_start + r.span_len - 1 <= n
        assert r.span_len >= 3 or r.span_start + r.span_len - 1 == n
        assert len(r.span_text.split(" ")) == r.span_len
    for rs in by_doc.values():
        assert sorted(r.span_id for r in rs) == list(range(1, len(rs) + 1))


def test_vocab_coverage_bounds(spark, sf_dir):
    """OOV rate is in [0,1], oov_tokens <= n_tokens, and the corpus-wide
    OOV mass equals total tokens minus the top-1000 vocab's counts."""
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.queries.textops import vocab_coverage

    rows = vocab_coverage(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r.oov_tokens <= r.n_tokens
        assert 0.0 <= r.oov_rate <= 1.0


def test_bpe_vocab_target_stop(spark, sf_dir):
    """The vocab-size-targeted stop (VERDICT r11 #5): each BPE merge
    adds exactly one symbol, so training to vocab_target = |base
    charset| + 4 must perform exactly 4 merges and leave exactly that
    many distinct symbols in the merged table; a target below the base
    charset trains nothing."""
    from pyspark.sql import functions as F

    from semantic_query_engine_spark.queries.textops import _bpe_learn

    def distinct_syms(df):
        return (
            df.select(F.explode(F.split(F.trim(F.col("s")), " ")).alias("y"))
            .distinct()
            .count()
        )

    base, cur, rows = _bpe_learn(spark, sf_dir, n_rounds=50, vocab_target=None)
    base_syms = distinct_syms(base)
    base.unpersist()

    base2, cur2, rows2 = _bpe_learn(
        spark, sf_dir, n_rounds=50, vocab_target=base_syms + 4
    )
    try:
        assert len(rows2) == 4
        assert distinct_syms(cur2) == base_syms + 4
        # the 4 merges are the PREFIX of the unbounded greedy sequence
        assert rows2 == rows[:4]
        # each merged token really is its pair without the space
        for step, pair, merged, cnt in rows2:
            assert merged == pair.replace(" ", "") and cnt >= 2
    finally:
        base2.unpersist()

    base3, _, rows3 = _bpe_learn(spark, sf_dir, n_rounds=50, vocab_target=1)
    base3.unpersist()
    assert rows3 == []


def test_bpe_batched_merges_equal_sequential(spark, sf_dir):
    """Batched non-overlapping merges (VERDICT r13 #6) are EXACTLY the
    sequential greedy trainer, not an approximation: batch=8 at depth
    50 must reproduce batch=1's merge table row-for-row — same pairs,
    same order, same counts (the counts certify each batched merge was
    applied against the state sequential greedy would have seen) — and
    the final symbol tables must agree cell-for-cell.  The registered
    bpe_merges_n10 row gates the same equivalence against the
    generated sequential SQL oracle every round; this pins it at 5x
    the registry depth, where interactions are likelier."""
    from semantic_query_engine_spark.queries.textops import _bpe_learn

    base1, cur1, seq = _bpe_learn(spark, sf_dir, n_rounds=50, batch=1)
    table1 = {r["w"]: r["s"] for r in cur1.collect()}
    base1.unpersist()
    base8, cur8, bat = _bpe_learn(spark, sf_dir, n_rounds=50, batch=8)
    table8 = {r["w"]: r["s"] for r in cur8.collect()}
    base8.unpersist()
    assert bat == seq
    assert table8 == table1
    assert len(seq) == 50  # depth actually reached — not a trivial pass


def test_bpe_disjoint_prefix_rules(spark):
    """_disjoint_prefix unit semantics: stops (never skips) at the
    first symbol collision, counts merged-string collisions as
    conflicts, and cuts below the cnt>=2 stopping rule."""
    from semantic_query_engine_spark.queries.textops import _disjoint_prefix

    def rows(*pcs):
        return [{"pair": p, "cnt": c} for p, c in pcs]

    # disjoint prefix: all three admitted
    got = _disjoint_prefix(rows(("a b", 9), ("c d", 8), ("e f", 7)))
    assert [r["pair"] for r in got] == ["a b", "c d", "e f"]
    # shared symbol stops the batch INCLUDING later disjoint pairs
    got = _disjoint_prefix(rows(("a b", 9), ("b c", 8), ("e f", 7)))
    assert [r["pair"] for r in got] == ["a b"]
    # merged-string collision: "a b" creates symbol "ab"
    got = _disjoint_prefix(rows(("a b", 9), ("ab c", 8)))
    assert [r["pair"] for r in got] == ["a b"]
    # stopping rule: cnt < 2 never applies
    got = _disjoint_prefix(rows(("a b", 9), ("c d", 1)))
    assert [r["pair"] for r in got] == ["a b"]
    assert _disjoint_prefix(rows(("a b", 1))) == []
    # the tie-donor hazard the n10 value gate caught: "o lu" ties
    # "lu m" and shares a symbol with the batch, so its created pair
    # "co lu" would outrank "lu m" in sequential order -> stop
    got = _disjoint_prefix(rows(("c o", 978), ("lu m", 978), ("o lu", 978)))
    assert [r["pair"] for r in got] == ["c o"]
    # hidden-donor tail guard: in an INCOMPLETE window a member tying
    # the window's last count may have an unseen tying donor below
    got = _disjoint_prefix(rows(("a b", 9), ("c d", 9)), complete=False)
    assert [r["pair"] for r in got] == ["a b"]
    got = _disjoint_prefix(rows(("a b", 9), ("c d", 9)), complete=True)
    assert [r["pair"] for r in got] == ["a b", "c d"]
