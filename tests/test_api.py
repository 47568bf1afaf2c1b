"""End-to-end facade tests: a reference user's workflow through
SemanticQueryEngine — build, ask (with memory + semantic cache),
streamed ask, tenant upload validation."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def engine(spark, sf_dir):
    from semantic_query_engine_spark.api import SemanticQueryEngine
    from semantic_query_engine_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").limit(100).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    return SemanticQueryEngine(spark, chunk_size=32).build_from_documents(docs)


def test_ask_returns_answer_and_saves_memory(engine):
    ans = engine.ask("fast key order sort table", chat_id="chat1")
    assert ans.startswith("STUB_ANSWER[")
    assert len(engine.memory_store["chat1"]) == 1
    # second turn sees history (A21 — works because memory_store is
    # initialized, unlike the reference's missing __init__ assignment)
    ans2 = engine.ask("row data filter column", chat_id="chat1")
    assert len(engine.memory_store["chat1"]) == 2
    assert ans2.startswith("STUB_ANSWER[")


def test_semantic_cache_hit_path(engine):
    q = "group query row data slow small"
    first = engine.ask(q)
    before = engine.cache_stats()["total_hits"]
    second = engine.ask(q)  # identical query -> cosine 1.0 >= 0.96 -> cache
    assert second == first
    assert engine.cache_stats()["total_hits"] == before + 1


def test_empty_query_guard(engine):
    assert engine.ask("  ") == "No query provided."


def test_search_topk(engine):
    hits = engine.search("fast key order sort", k=3).collect()
    assert len(hits) == 3
    assert hits[0].score >= hits[1].score >= hits[2].score


def test_ask_stream_chunks_and_caches(engine):
    q = "merge part scan query table unique"
    chunks = list(engine.ask_stream(q, chunk_words=3))
    assert len(chunks) >= 1
    full = " ".join(chunks)
    assert full.startswith("STUB_ANSWER[")
    # the post-stream cache write (A26) makes the next ask a cache hit
    assert engine.ask(q) == full


def test_ask_stream_incremental_token_emission(spark, sf_dir):
    """A19 true streaming: deltas must reach the consumer BEFORE the
    generator finishes, and the cache write must wait for exhaustion."""
    from semantic_query_engine_spark.api import SemanticQueryEngine
    from semantic_query_engine_spark.sources.fixtures import load_table

    produced = []

    def stream_fn(prompt):
        for tok in ("alpha ", "beta ", "gamma"):
            produced.append(tok)
            yield tok

    docs = load_table(spark, sf_dir, "documents").limit(50).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    eng = SemanticQueryEngine(
        spark, chunk_size=32, generate_stream_fn=stream_fn
    ).build_from_documents(docs)

    q = "incremental stream probe query words"
    it = eng.ask_stream(q)
    first = next(it)
    # lazy: only the first delta has been produced when we receive it
    assert first == "alpha " and produced == ["alpha "]
    rest = list(it)
    assert rest == ["beta ", "gamma"]
    # cache-after-stream (A26): next ask returns the accumulated answer
    assert eng.ask(q) == "alpha beta gamma"


def test_upload_text_validation_and_tenancy(engine):
    with pytest.raises(ValueError):
        engine.upload_text("u1", "", "body", batch_ts=123)
    with pytest.raises(ValueError):
        engine.upload_text("u1", "notes.pdf", "body", batch_ts=123)
    doc_id = engine.upload_text("u1", "notes.txt", "alpha beta gamma", batch_ts=123)
    assert doc_id == "notes_123"
    indexed = engine.index.filter(F.col("doc_id") == doc_id).collect()
    assert indexed and all(r.user_id == "u1" for r in indexed)


TRICKY_TEXTS = [
    "fast key order sort table",
    "double  space",
    "  leading whitespace",
    "trailing whitespace  ",
    "tab\tseparated\twords",
    "new\nline\r\nbreaks",
    "UPPER Case Words",
    "naïve café ÜBER straße ΣΑΣ İstanbul",
    "form\x0bfeed\x0cwords",
    "no\xa0break space",  # not a Java \s: one token
    "",
    " ",
]


def test_embed_text_bit_identical_to_transform(spark, engine):
    emb = engine._embedder
    df = spark.createDataFrame([(t,) for t in TRICKY_TEXTS], "chunk_text string")
    for text, row in zip(TRICKY_TEXTS, emb.transform(df).collect()):
        assert emb.embed_text(text) == list(row.embedding), repr(text)
    # the query guard: empty / whitespace-only -> zeros
    for q in ("", "   ", "\t\n"):
        assert engine._embed_query(q) == [0.0] * engine.dim


def test_cache_hit_ask_and_stats_run_no_spark_job(spark, engine):
    sc = spark.sparkContext
    q = "hit path runs on the driver"
    first = engine.ask(q)
    try:
        sc.setJobGroup("cache-hit", "cache-hit ask")
        assert engine.ask(q) == first
        engine.cache_stats()
        sc.setJobGroup("control", "search")
        engine.search(q).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("cache-hit") == []
    # the group is observed: the same probe sees the search's jobs
    assert sc.statusTracker().getJobIdsForGroup("control")


def _assert_search_matches_cosine_column(eng, queries):
    """`search` returns the rows and the exact float scores of the plain
    cosine() form, over the whole index (k = every row)."""
    from semantic_query_engine_spark.functions.vectors import cosine, vector_lit

    n = eng.index.count()
    scored = False
    for q in queries:
        want = (
            eng.index.withColumn(
                "score", cosine(F.col("embedding"), vector_lit(eng._embed_query(q)))
            )
            .orderBy(F.desc("score"), F.asc("chunk_key"))
            .limit(n)
            .select("doc_id", "chunk_id", "chunk_key", "chunk_text", "score")
            .collect()
        )
        got = eng.search(q, n).collect()
        assert [tuple(r) for r in got] == [tuple(r) for r in want], repr(q)
        scored = scored or any(r.score > 0.0 for r in got)
    assert scored  # the queries reach the index's vocabulary


QUERIES = ["fast key order sort table", "stream window watermark", ""]


def test_upload_into_integer_doc_id_index_is_searchable(spark):
    from semantic_query_engine_spark.api import SemanticQueryEngine

    docs = spark.createDataFrame(
        [(i, f"spark query vector join row{i}") for i in range(4)],
        "doc_id long, text string",
    )
    eng = SemanticQueryEngine(spark).build_from_documents(docs)
    doc_id = eng.upload_text("t0", "probe.txt", "stream window watermark", 1)
    hits = eng.search("stream window watermark", 1).collect()
    assert [(h.doc_id, h.chunk_text) for h in hits] == [
        (doc_id, "stream window watermark")
    ]
    assert {r.doc_id for r in eng.index.select("doc_id").collect()} == {
        "0", "1", "2", "3", doc_id
    }
    _assert_search_matches_cosine_column(eng, QUERIES)


def test_search_bit_identical_to_cosine_column(engine):
    _assert_search_matches_cosine_column(engine, QUERIES)


def _executed_nodes(df) -> list[str]:
    """One line per node of the executed plan, not descending into a
    cached relation's own plan (that ran once, at cache fill)."""
    out = []

    def walk(node):
        if node.nodeName() == "AdaptiveSparkPlan":
            return walk(node.executedPlan())
        out.append(node.simpleString(10_000))
        children = node.children()
        for i in range(children.size()):
            walk(children.apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_ask_miss_after_uploads_is_one_job_over_a_constant_plan(spark, sf_dir):
    """Uploads are indexed when they arrive: a miss scores two in-memory
    scans (cached base, materialized upload delta) with no chunking
    (Generate), MLlib UDF or Python evaluation, in one Spark job, and
    the plan does not grow with the number of uploads."""
    import re

    from semantic_query_engine_spark.api import SemanticQueryEngine
    from semantic_query_engine_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents").limit(50).select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    eng = SemanticQueryEngine(spark, chunk_size=32).build_from_documents(docs)
    eng.search("fill the index cache").collect()

    def shape():
        nodes = _executed_nodes(eng.search("stream window watermark"))
        for node in nodes:
            assert not node.startswith("Generate"), node
            assert "Python" not in node.split(" ")[0], node
            assert "UDF(" not in node, node
        # expression ids and constants vary; the structure must not
        return re.sub(r"\d+", "0", "\n".join(nodes))

    eng.upload_text("t0", "up0.txt", "stream window watermark part 0", 0)
    after_first = shape()
    eng.upload_text("t1", "up1.txt", "stream window watermark part 1", 1)
    eng.upload_text("t2", "up2.txt", "stream window watermark part 2", 2)
    assert len(shape()) <= len(after_first)

    sc = spark.sparkContext
    try:
        sc.setJobGroup("ask-miss", "cache-miss ask after uploads")
        eng.ask("a distinct miss about stream windows")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert eng.cache_stats()["entries"] == 1  # a miss: the answer was put
    assert len(sc.statusTracker().getJobIdsForGroup("ask-miss")) == 1
    _assert_search_matches_cosine_column(eng, QUERIES)
