"""User-facing facade: the reference's service surface as one class.

Reference endpoints -> methods:
- startup index build  (A27, /root/reference/app/main.py:413-456,568-580)
    -> SemanticQueryEngine.build_from_documents / build_from_corpus_dir
- POST /ask            (A20/A25, /root/reference/app/main.py:467-608)
    -> .ask(query, chat_id, top_k) -> answer string
- WS /ws/ask           (A19/A26, /root/reference/app/main.py:650-735)
    -> .ask_stream(query, top_k) -> iterator of answer chunks
       (cache written after the stream completes, no chat memory —
       preserving the reference's divergence on this path)
- POST /upload_text    (A22/A23, /root/reference/app/embedding_gen.py:315-409)
    -> .upload_text(user_id, filename, content, batch_ts)
- kNN search           (A15) -> .search(query, k) -> DataFrame

State:
- chunk index: a DataFrame (persist via plans.index_build.write_index);
  retrieval over it is one Spark job.  The index is a cached base,
  spread to at least the session's core count and carrying a
  precomputed `embedding_norm`, unioned with an upload delta that
  upload_text chunks, embeds and materializes when the file arrives
  (as the reference indexes an upload at /upload_text,
  app/embedding_gen.py:315-409).  Both sides are in-memory scans, so an
  ask miss runs no MLlib stage or Python worker and its plan does not
  grow with uploads.  Left lazy, every ask re-chunked and re-embedded
  every upload, ~430 ms more per upload on each later search (4
  cores: 465 ms with no uploads, 2,170 ms after 4); the base was
  scored on one core, as a 5,000-document corpus is one split.
- query embedding (A6) and semantic LFU cache (A12-A14): on the driver,
  so a cache-hit ask runs no Spark job.  Both are per-ask work on one
  text and <= capacity entries, and the reference scans its cache
  client-side too (app/main.py:67-128); as Spark jobs over 1-row
  frames they cost ~1.9 s per cache hit on 4 cores.
- conversation memory (A21): per-chat in-process buffer, like the
  reference's dict — but INITIALIZED (the reference's memory_store is
  never created in __init__, /root/reference/app/main.py:408-411 vs
  :484; first ask() there raises AttributeError.  Fixed here.)
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Iterator, Optional

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F

from .functions.plan import truncate_eager
from .functions.vectors import cosine_to_const, l2_norm
from .ml.embedder import TfIdfEmbedder
from .operators import cache as cache_ops
from .operators.chunking import chunk_documents
from .plans.rag import SYSTEM_RULES

DEFAULT_TOP_K = 3  # /root/reference/app/main.py:467


def _default_generator(prompt: str) -> str:
    """Deterministic stand-in for the LLM call (A18)."""
    head = " ".join(prompt.split()[:12])
    return f"STUB_ANSWER[{head}...]"


class SemanticQueryEngine:
    """Spark-native semantic query engine with the reference's surface."""

    def __init__(
        self,
        spark: SparkSession,
        chunk_size: int = 512,  # /root/reference/app/main.py:37
        dim: int = 64,
        generate_fn: Optional[Callable[[str], str]] = None,
        generate_stream_fn: Optional[Callable[[str], Iterator[str]]] = None,
        cache_capacity: int = cache_ops.CACHE_CAPACITY,
        cache_threshold: float = cache_ops.CACHE_SIM_THRESHOLD,
    ):
        self.spark = spark
        self.chunk_size = chunk_size
        self.dim = dim
        self.generate = generate_fn or _default_generator
        # A19: a real token-streaming model (the reference's OpenAI
        # delta loop, app/main.py:638-643) plugs in here; None falls
        # back to word-chunking the completed answer
        self.generate_stream = generate_stream_fn
        self.index: Optional[DataFrame] = None
        self._base: Optional[DataFrame] = None  # cached build output
        self._uploads: Optional[DataFrame] = None  # materialized delta
        self._embedder: Optional[TfIdfEmbedder] = None
        self._cache = cache_ops.SemanticCache(cache_capacity, cache_threshold)
        # A21 — initialized, unlike the reference (app/main.py:408-411)
        self.memory_store: dict[str, list[tuple[str, str]]] = {}

    # ------------------------------------------------------------------
    # Write path (A27 / A23)
    # ------------------------------------------------------------------

    def build_from_documents(self, docs: DataFrame) -> "SemanticQueryEngine":
        """Index build (A27): clean -> chunk -> embed -> normalize.
        Skips nothing here — idempotence guards live on the persisted
        path (plans.index_build.index_is_empty)."""
        chunks = chunk_documents(docs, chunk_size=self.chunk_size)
        if chunks.isEmpty():
            # without this, MLlib's IDF.fit dies with the cryptic
            # "Haven't seen any document yet" — e.g. when a corpus dir
            # contains no files matching the PMC*.txt name filter (A3)
            raise ValueError(
                "no documents to index: the input produced 0 chunks "
                "(for corpus dirs, only files matching the reference's "
                "PMC*.txt name filter are scanned)"
            )
        self._embedder = TfIdfEmbedder(
            dim=self.dim, text_col="chunk_text", out_col="embedding"
        ).fit(chunks)
        cores = self.spark.sparkContext.defaultParallelism
        if chunks.rdd.getNumPartitions() < cores:
            # a small corpus is one unsplittable split: spread it so
            # scoring uses every core (as sources.fixtures._spread_scan)
            chunks = chunks.repartition(cores)
        self._base = self._embed(chunks).cache()
        self._uploads = None
        self.index = self._base
        return self

    def build_from_corpus_dir(self, corpus_dir: str) -> "SemanticQueryEngine":
        from .sources.text_corpus import read_text_corpus

        return self.build_from_documents(read_text_corpus(self.spark, corpus_dir))

    def upload_text(
        self, user_id: str, filename: str, content: str, batch_ts: int
    ) -> str:
        """A23: validate filename/extension, derive doc_id stem_ts,
        index the chunks under the tenant.  Returns the doc_id."""
        if not filename:
            raise ValueError("filename must be non-empty")
        if not filename.endswith(".txt"):
            raise ValueError("only .txt uploads are accepted")
        stem = filename[: -len(".txt")]
        doc_id = f"{stem}_{batch_ts}"
        docs = self.spark.range(1, numPartitions=1).select(
            F.lit(doc_id).alias("doc_id"), F.lit(content).alias("text")
        )
        chunks = chunk_documents(docs, chunk_size=self.chunk_size)
        if self._embedder is None:
            self._embedder = TfIdfEmbedder(
                dim=self.dim, text_col="chunk_text", out_col="embedding"
            ).fit(chunks)
        delta = self._embed(chunks).withColumn("user_id", F.lit(user_id))
        if self._uploads is not None:
            delta = self._uploads.unionByName(delta)
        # one job per upload, over the uploads only: the ask path then
        # scans the delta instead of re-running chunk + embed per upload;
        # one partition, so an ask's task count does not grow either
        self._uploads = delta.coalesce(1).transform(truncate_eager)
        base = self._base
        if base is None:
            self.index = self._uploads
            return doc_id
        if dict(base.dtypes)["doc_id"] != "string":
            # upload ids are strings; unionByName would cast them to the
            # index's type instead (CAST_INVALID_INPUT on the next read)
            base = base.withColumn("doc_id", F.col("doc_id").cast("string"))
        self.index = base.unionByName(self._uploads, allowMissingColumns=True)
        return doc_id

    def _embed(self, chunks: DataFrame) -> DataFrame:
        """Chunk rows -> embedding plus its precomputed L2 norm."""
        return self._embedder.transform(chunks).withColumn(
            "embedding_norm", l2_norm("embedding")
        )

    # ------------------------------------------------------------------
    # Read path (A20 / A26 / A15)
    # ------------------------------------------------------------------

    def _require_index(self) -> DataFrame:
        if self.index is None:
            raise RuntimeError("no index built; call build_from_documents first")
        return self.index

    def _embed_query(self, query: str) -> list[float]:
        """A6: embed one query through the same model, on the driver;
        empty -> zeros (reference app/main.py:172-180)."""
        if not query or not query.strip():
            return [0.0] * self.dim
        return self._embedder.embed_text(query)

    def search(self, query: str, k: int = DEFAULT_TOP_K) -> DataFrame:
        """A15: top-k chunks for a text query."""
        return self._retrieve(self._embed_query(query), k)

    def _retrieve(self, qvec: list[float], k: int) -> DataFrame:
        """Top-k chunks by cosine to an embedded query, ties to the
        lowest chunk_key: one job over the in-memory index."""
        scored = self._require_index().withColumn(
            "score", cosine_to_const("embedding", "embedding_norm", qvec)
        )
        return (
            scored.orderBy(F.desc("score"), F.asc("chunk_key"))
            .limit(k)
            .select("doc_id", "chunk_id", "chunk_key", "chunk_text", "score")
        )

    def _assemble_context(self, hits: list[Row]) -> str:
        """A16: group hit chunks by doc in retrieval order, format
        '--- Document ID: {id} ---' blocks
        (/root/reference/app/main.py:500-513)."""
        by_doc: dict[str, list[str]] = {}
        for r in hits:  # hits are already in retrieval order
            by_doc.setdefault(str(r.doc_id), []).append(r.chunk_text)
        return "\n".join(
            f"--- Document ID: {doc_id} ---\n" + "\n".join(texts) + "\n"
            for doc_id, texts in by_doc.items()
        )

    def _build_prompt(self, query: str, context: str, history: str) -> str:
        """A17 (/root/reference/app/main.py:519-535)."""
        parts = [SYSTEM_RULES]
        if history:
            parts.append(f"Chat history:\n{history}")
        parts.append(f"Context:\n{context}")
        parts.append(f"Question: {query}")
        return "\n\n".join(parts)

    def _cache_probe(self, qvec: list[float]) -> Optional[str]:
        """A12: top-1 cosine over cache entries >= threshold; bumps freq
        on hit."""
        return self._cache.probe(qvec)

    def _cache_put(self, qvec: list[float], response: str) -> None:
        """A14: insert with freq=1, LFU-evicting at capacity."""
        self._cache.put(qvec, response)

    def ask(
        self, query: str, chat_id: Optional[str] = None, top_k: int = DEFAULT_TOP_K
    ) -> str:
        """A20, the flagship path: guards -> embed -> cache probe ->
        retrieve -> assemble -> prompt -> generate -> memory+cache write.
        """
        if not query or not query.strip():
            return "No query provided."  # guard (app/main.py:477-481)
        qvec = self._embed_query(query)
        cached = self._cache_probe(qvec)
        if cached is not None:
            return cached
        hits = self._retrieve(qvec, top_k).collect()
        context = self._assemble_context(hits)
        history = ""
        if chat_id is not None:
            history = "\n".join(
                f"user: {q}\nassistant: {a}"
                for q, a in self.memory_store.get(chat_id, [])
            )
        prompt = self._build_prompt(query, context, history)
        answer = self.generate(prompt)
        if chat_id is not None:  # A21 save_context
            self.memory_store.setdefault(chat_id, []).append((query, answer))
        self._cache_put(qvec, answer)
        return answer

    def ask_stream(
        self, query: str, top_k: int = DEFAULT_TOP_K, chunk_words: int = 4
    ) -> Iterator[str]:
        """A26: same pipeline, streamed generation; cache written only
        after the stream completes; no conversation memory on this path
        (preserving the reference's divergence,
        /root/reference/app/main.py:650-735).

        With a generate_stream_fn configured, token deltas are yielded
        AS THE MODEL PRODUCES THEM (true incremental emission, A19 —
        the reference's delta loop at app/main.py:638-643) and the
        full answer is accumulated for the post-stream cache write.
        Otherwise the completed answer is chunked by words."""
        if not query or not query.strip():
            yield "No query provided."
            return
        qvec = self._embed_query(query)
        cached = self._cache_probe(qvec)
        if cached is not None:
            yield cached
            return
        hits = self._retrieve(qvec, top_k).collect()
        prompt = self._build_prompt(query, self._assemble_context(hits), "")
        if self.generate_stream is not None:
            parts: list[str] = []
            for delta in self.generate_stream(prompt):
                parts.append(delta)
                yield delta
            answer = "".join(parts)
        else:
            answer = self.generate(prompt)
            words = answer.split(" ")
            for i in range(0, len(words), chunk_words):
                yield " ".join(words[i : i + chunk_words])
        self._cache_put(qvec, answer)  # app/main.py:724-727

    # ------------------------------------------------------------------

    def cache_stats(self) -> dict:
        return self._cache.stats()
