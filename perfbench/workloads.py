"""Seeded inputs for the benchmark: the corpus, the operation schedule of
each workload, and the index deltas.  Pure Python, no Spark: the same
seed always yields the same inputs, and the program under test only ever
sees the generated texts, uploads and deltas.

The corpus mimics the repository's `documents` fixture (doc_id, text,
lang, source, n_chars): 10-99 words drawn from the fixture's 30-word
vocabulary, 20 sources, five languages, and ~5% planted duplicates
ending in the word "dup" (half of them exact copies of an earlier
duplicate).  Document ids are strings like the reference's PMC file
stems ("PMC0000042"), as on the service's corpus-directory path: the
engine cannot take uploads into an index built from integer ids (see
`known_defects` in perfbench/rag.py).  The corpus is fixed (seed 42,
like the fixtures); only the traffic depends on the workload seed.
"""

from __future__ import annotations

import itertools
import math
import random
from dataclasses import dataclass
from typing import Optional

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
CORPUS_SEED = 42
N_SOURCES = 20

QUERY_WORDS = 6
# Two distinct queries share at most this many words, which keeps their
# TF-IDF cosine near 0.5, far below the semantic cache's 0.96 hit
# threshold: a distinct query can never hit by accident.
MAX_SHARED_WORDS = 3
UPLOAD_WORDS = 150
SCHEDULE_LEN = 120  # far more operations than any run completes

# One block of each workload's traffic, repeated.  `repeat` re-asks an
# earlier distinct query word for word (must hit the cache); `chat` and
# `repeat_chat` carry a chat_id; `stream` goes through ask_stream and
# `repeat_stream` streams a repeat.
#
# rag_session is read-only service traffic in which, as in the
# reference's service, the cache-hit path does most of the work: 7 of
# its 10 asks are exact repeats, so the median ask is a hit, and its 3
# streams are repeats too, so their median time to first chunk is a hit
# on the streaming path.  rag_churn asks only distinct queries (5 asks,
# 3 of them streamed) beside 3 tenant uploads and 2 index upserts, so
# its median ask and median first chunk are misses.  Each median is
# taken over operations of one kind only: a median that falls between a
# hit and a miss flips between them from run to run.
PATTERNS = {
    "rag_session": (
        "ask", "repeat", "repeat_stream", "chat", "repeat_chat",
        "repeat_stream", "ask", "repeat_chat", "repeat_stream", "repeat",
    ),
    "rag_churn": (
        "ask", "stream", "upload", "upsert", "stream",
        "upload", "ask", "upsert", "stream", "upload",
    ),
}
# Untimed warm-up: the engine's read and write paths once each (a stream
# runs the same Spark plans as an ask).
WARMUP = {
    "rag_session": ("ask", "repeat"),
    "rag_churn": ("ask", "upload", "upsert"),
}
# Operations whose latencies make the reported metrics: one block, a
# fixed count, so every run, whatever its speed, samples the same points
# of the engine's periodic latency profile (see perfbench/run.py).  With
# one cache put in the warm-up, the block covers puts 2-4 of the 16-put
# cycle on rag_session and puts 2-6 on rag_churn; the truncation at put
# 16 lies outside every block (a full cycle of asks takes about two
# minutes on a 4-core machine, more than a run may take).
TIMED_OPS = {w: len(p) for w, p in PATTERNS.items()}
# rag_session's cache never fills; rag_churn's fills after 4 puts, so
# LFU eviction runs on every later put (puts 5 and 6 of its block).
CACHE_CAPACITY = {"rag_session": 1000, "rag_churn": 4}
WORKLOADS = tuple(PATTERNS)


def n_docs_for(sf: float) -> int:
    """Documents at a scale factor, as in the fixtures: 5,000 at sf0.1,
    never fewer than 500."""
    return max(500, int(round(50_000 * sf)))


def doc_key(i: int) -> str:
    return f"PMC{i:07d}"


def make_corpus(n_docs: int, seed: int = CORPUS_SEED) -> list[dict]:
    rng = random.Random(seed)
    langs, weights = zip(*LANGS)
    dup_texts: list[str] = []
    rows = []
    for doc_id in range(n_docs):
        if rng.random() < 0.05:
            if dup_texts and rng.random() < 0.5:
                text = rng.choice(dup_texts)
            else:
                words = rng.choices(VOCAB, k=rng.randint(10, 98))
                text = " ".join(words) + " dup"
            dup_texts.append(text)
        else:
            text = " ".join(rng.choices(VOCAB, k=rng.randint(10, 99)))
        rows.append(
            {
                "doc_id": doc_key(doc_id),
                "text": text,
                "lang": rng.choices(langs, weights)[0],
                "source": f"src{doc_id % N_SOURCES}",
                "n_chars": len(text),
            }
        )
    return rows


def write_corpus(path: str, n_docs: int) -> str:
    """Write the corpus as one parquet file (idempotent: same bytes)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = make_corpus(n_docs)
    table = pa.table(
        {
            "doc_id": [r["doc_id"] for r in rows],
            "text": [r["text"] for r in rows],
            "lang": [r["lang"] for r in rows],
            "source": [r["source"] for r in rows],
            "n_chars": pa.array([r["n_chars"] for r in rows], pa.int64()),
        }
    )
    pq.write_table(table, path)
    return path


def write_registry_tables(out_dir: str, n_docs: int) -> str:
    """The fixture tables the registry queries read, in the fixtures'
    schemas: `documents` (the corpus texts under integer doc_ids) and
    `embeddings` (vec_id aligned with doc_id, 64-dimensional unit float
    vectors, labels 0-9; 2,000 rows at sf0.1, never fewer than 500).
    Returns the directory, laid out like an sf directory."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = make_corpus(n_docs)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": [r["text"] for r in rows],
                "lang": [r["lang"] for r in rows],
                "source": [r["source"] for r in rows],
                "n_chars": pa.array([r["n_chars"] for r in rows], pa.int64()),
            }
        ),
        f"{out_dir}/documents.parquet",
    )
    n_emb = max(500, n_docs * 2 // 5)
    rng = np.random.default_rng(CORPUS_SEED)
    vecs = rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_emb), pa.int64()),
                "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
            }
        ),
        f"{out_dir}/embeddings.parquet",
    )
    return out_dir


@dataclass(frozen=True)
class Op:
    """One client operation.  For asks, `text` is the query and
    `first` the index of the op that first asked it (None for a new
    query); for uploads, `text` is the file content; for upserts,
    `delta` is the index of the delta to merge."""

    kind: str  # ask | stream | upload | upsert
    text: str = ""
    chat_id: Optional[str] = None
    first: Optional[int] = None
    filename: str = ""
    user_id: str = ""
    batch_ts: int = 0
    delta: int = -1


def _distinct_query(rng: random.Random, seen: list[frozenset]) -> str:
    while True:
        words = rng.sample(VOCAB, QUERY_WORDS)
        ws = frozenset(words)
        if all(len(ws & s) <= MAX_SHARED_WORDS for s in seen):
            seen.append(ws)
            return " ".join(words)


def make_schedule(workload: str, seed: int, n_ops: int = SCHEDULE_LEN) -> list[Op]:
    """Warm-up ops followed by the timed traffic (see `WARMUP`)."""
    rng = random.Random(f"{workload}:{seed}")
    seen: list[frozenset] = []
    asked: list[int] = []  # op indexes of new queries
    ops: list[Op] = []
    n_uploads = n_upserts = 0
    kinds = itertools.chain(WARMUP[workload], itertools.cycle(PATTERNS[workload]))
    for kind in itertools.islice(kinds, n_ops):
        chat_id = f"chat{rng.randrange(3)}" if kind in ("chat", "repeat_chat") else None
        if kind.startswith("repeat"):
            first = rng.choice(asked)
            k = "stream" if kind == "repeat_stream" else "ask"
            ops.append(Op(k, ops[first].text, chat_id, first))
        elif kind in ("ask", "chat", "stream"):
            asked.append(len(ops))
            ops.append(
                Op("stream" if kind == "stream" else "ask", _distinct_query(rng, seen), chat_id)
            )
        elif kind == "upload":
            text = " ".join(rng.choices(VOCAB, k=UPLOAD_WORDS))
            ops.append(
                Op(
                    "upload",
                    text,
                    filename=f"tenant_upload_{n_uploads}.txt",
                    user_id=f"tenant{n_uploads % 4}",
                    batch_ts=1_700_000_000 + n_uploads,
                )
            )
            n_uploads += 1
        else:
            ops.append(Op("upsert", delta=n_upserts))
            n_upserts += 1
    return ops


def make_delta(seed: int, j: int, n_docs: int, dim: int = 64) -> list[dict]:
    """Delta `j` for the persisted index: 4 updated chunks of existing
    documents and 2 chunks of new documents, all at version j+1, with
    seeded unit-norm embeddings.  Keys never repeat within a delta."""
    rng = random.Random(f"delta:{seed}:{j}")
    updated = rng.sample(range(n_docs), 4)
    new = [n_docs + 2 * j, n_docs + 2 * j + 1]
    rows = []
    for doc_id in updated + new:
        v = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v))
        rows.append(
            {
                "doc_id": doc_key(doc_id),
                "chunk_id": 0,
                "chunk_key": f"{doc_key(doc_id)}_0",
                "chunk_text": " ".join(rng.choices(VOCAB, k=40)),
                "embedding": [x / norm for x in v],
                "source": f"src{doc_id % N_SOURCES}",
                "version": j + 1,
            }
        )
    return rows
