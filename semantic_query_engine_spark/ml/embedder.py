"""Embedding generation — the Spark-native replacement for the
reference's Ollama HTTP embedder (SURVEY A4/A5,
/root/reference/app/main.py:134-169: text -> 1024-dim vector, batch 64,
concurrency 5, zero-vector on empty/error).

Two interchangeable implementations behind one interface:

1. TfIdfEmbedder (default, deterministic): MLlib Tokenizer -> HashingTF
   -> IDF with a fixed dimension.  Pure JVM pipeline — embedding 100 TB
   of text is a map-side pass plus one small IDF aggregate.  Used by all
   tests so results are reproducible.
2. embed_with_pandas_udf: an Arrow-batched iterator Pandas UDF wrapping
   any Python callable (a real sentence-transformer / HTTP model would
   slot in here).  Spark's Arrow batches play the reference's
   batch_size=64 role, and task parallelism replaces its semaphore —
   cap concurrent external calls by capping partitions, not with locks.

Both honor the reference's contract: empty text -> zero vector
(/root/reference/app/embedding_gen.py:147-148,164-166), output
L2-normalizable array<double>.
"""

from __future__ import annotations

import functools
import re
from collections.abc import Callable, Iterator
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_DIM = 64  # fixture dim; the reference uses 1024 (app/main.py:38)
# Java's `\s` (MLlib Tokenizer splits on it), narrower than Python's
_JAVA_WS = re.compile(r"[ \t\n\x0b\f\r]")


class TfIdfEmbedder:
    """Deterministic corpus-fitted embedder (fit = one IDF aggregate)."""

    def __init__(self, dim: int = DEFAULT_DIM, text_col: str = "text", out_col: str = "embedding"):
        self.dim = dim
        self.text_col = text_col
        self.out_col = out_col
        self._model = None

    def fit(self, docs: DataFrame) -> "TfIdfEmbedder":
        from pyspark.ml import Pipeline
        from pyspark.ml.feature import IDF, HashingTF, Tokenizer

        pipe = Pipeline(
            stages=[
                Tokenizer(inputCol=self.text_col, outputCol="__tokens"),
                HashingTF(
                    inputCol="__tokens", outputCol="__tf", numFeatures=self.dim
                ),
                IDF(inputCol="__tf", outputCol="__tfidf"),
            ]
        )
        self._model = pipe.fit(docs.select(self.text_col))
        hashing_tf, idf_model = self._model.stages[1:]
        # driver-side embed_text state: the IDF weights, and the JVM
        # HashingTF's own term -> index hash (0.3 ms per py4j call;
        # the public indexOf re-sends every param, ~3.5 ms)
        self._idf = idf_model.idf.toArray()
        hashing_tf._transfer_params_to_java()
        self._index_of = functools.lru_cache(maxsize=1 << 16)(
            hashing_tf._java_obj.indexOf
        )
        return self

    def transform(self, docs: DataFrame) -> DataFrame:
        """Add `out_col` as array<double> (MLlib vector only transient)."""
        from pyspark.ml.functions import vector_to_array

        if self._model is None:
            raise RuntimeError("call fit() first")
        out = self._model.transform(docs)
        return out.withColumn(self.out_col, vector_to_array(F.col("__tfidf"))).drop(
            "__tokens", "__tf", "__tfidf"
        )

    def embed_text(self, text: str) -> list[float]:
        """One text's embedding computed on the driver, bit-identical to
        `transform`'s and with no Spark job: Tokenizer's rule
        (lowercase, split on Java `\\s`, drop trailing empty tokens),
        term counts at the fitted HashingTF's indices, times the IDF."""
        if self._model is None:
            raise RuntimeError("call fit() first")
        tokens = _JAVA_WS.split(text.lower())
        if len(tokens) > 1:  # a separator matched: Java drops trailing ""
            while tokens and tokens[-1] == "":
                tokens.pop()
        tf = np.zeros(self.dim)
        for t in tokens:
            tf[self._index_of(t)] += 1.0
        return (tf * self._idf).tolist()


def embed_with_pandas_udf(
    docs: DataFrame,
    embed_fn: Optional[Callable[[list[str]], list[list[float]]]] = None,
    dim: int = DEFAULT_DIM,
    text_col: str = "text",
    out_col: str = "embedding",
    max_retries: int = 2,
    backoff_s: float = 0.1,
    per_row_fallback: bool = False,
) -> DataFrame:
    """Arrow-batched embedding via a Pandas iterator UDF.  `embed_fn`
    maps a batch of texts to vectors; the default is a deterministic
    hash-bucket embedder (a stand-in for a real model — the container
    ships no model weights).  Empty text -> zero vector, matching the
    reference's guard.  A flaky embed_fn is retried max_retries times
    per batch and then degrades to zero vectors — the reference's
    error path (app/embedding_gen.py:147-148), not a task failure.
    per_row_fallback=True isolates a poisoned row to itself instead of
    zeroing its whole Arrow batch (ml/resilience.py)."""

    from pyspark.sql.pandas.functions import pandas_udf

    from .resilience import with_retries, zero_vector_fallback

    if embed_fn is None:

        def embed_fn(texts: list[str]) -> list[list[float]]:
            import zlib

            import numpy as np

            out = []
            for t in texts:
                v = np.zeros(dim, dtype="float64")
                if t and t.strip():
                    for w in t.split():
                        # crc32 is process-stable (Python's hash() is salted)
                        v[zlib.crc32(w.encode("utf-8")) % dim] += 1.0
                out.append([float(x) for x in v])
            return out

    resilient_fn = with_retries(
        embed_fn,
        max_retries=max_retries,
        backoff_s=backoff_s,
        on_exhausted=zero_vector_fallback(dim),
        per_row_fallback=per_row_fallback,
    )

    @pandas_udf("array<double>")
    def _embed(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for batch in it:
            texts = ["" if t is None else str(t) for t in batch.tolist()]
            yield pd.Series(resilient_fn(texts))

    return docs.withColumn(out_col, _embed(F.col(text_col)))
