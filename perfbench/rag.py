"""The RAG workloads: one closed-loop caller driving a single
`SemanticQueryEngine` (it is a single-caller object with a mutable cache
and chat memory) through a seeded schedule of asks and streamed asks
and, on rag_churn, tenant uploads and upserts into a persisted chunk
index; a traced rag_churn run then runs the registry-query layer
(perfbench/registry.py).

Timing is taken around calls into the engine's public surface.  In a
traced run the engine's stage methods are wrapped on the instance (no
library file changes), each operation runs under its own Spark job
group, and py4j commands are counted.
"""

from __future__ import annotations

import functools
import hashlib
import os
import random
import time
from collections import defaultdict
from typing import Optional

import numpy as np

import bench

from . import trace as T
from .registry import QUERIES, run_registry
from .workloads import CACHE_CAPACITY, TIMED_OPS, WARMUP, Op, make_delta, make_schedule

N_BUILDS = 3  # engine builds per run; setup_s takes their median
N_SEARCH_CHECKS = 1
CHUNK_SIZE = 512  # SemanticQueryEngine's default
DIM = 64


def stub_generate(prompt: str) -> str:
    """Deterministic LLM stand-in whose answer depends on the whole
    prompt (the library's default echoes only the fixed system rules,
    so every answer would read the same and a wrong cache hit would go
    unseen)."""
    digest = hashlib.sha1(prompt.encode()).hexdigest()[:16]
    question = prompt.rsplit("Question: ", 1)[-1]
    return f"ANSWER[{digest}] about {question} (from retrieved context)"


def _files(path: str) -> dict[str, tuple[int, int]]:
    """Every file under `path` with its (size, mtime_ns)."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            out[os.path.join(root, f)] = (st.st_size, st.st_mtime_ns)
    return out


def _rewritten_bytes(before: dict, after: dict) -> int:
    """Bytes of the files that are new or changed between two listings."""
    return sum(size for f, (size, mt) in after.items() if before.get(f) != (size, mt))


class Instrument:
    """Spans around the engine's stage methods, recorded only while an
    operation is in flight (`tracer.rid` set)."""

    STAGES = {
        "_embed_query": "embed_query",
        "_cache_probe": "cache_probe",
        "_build_prompt": "assemble",
        "generate": "generate",
        "_cache_put": "cache_put",
        "upload_text": "upload",
    }

    def __init__(self, engine, tracer: T.Tracer):
        self.tracer = tracer
        self._retrieve: Optional[int] = None
        for attr, stage in self.STAGES.items():
            setattr(engine, attr, self._wrap(getattr(engine, attr), stage))
        engine.search = self._wrap_search(engine.search)
        engine._assemble_context = self._wrap(
            engine._assemble_context, "assemble", end_retrieve=True
        )

    def _end_retrieve(self) -> None:
        if self.tracer.is_open(self._retrieve):
            self.tracer.close(self._retrieve)
        self._retrieve = None

    def _wrap(self, fn, stage: str, end_retrieve: bool = False):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if self.tracer.rid is None:
                return fn(*args, **kwargs)
            if end_retrieve:
                self._end_retrieve()
            with self.tracer.span(stage):
                return fn(*args, **kwargs)

        return wrapped

    def _wrap_search(self, fn):
        # `ask` collects the DataFrame `search` returns and then
        # assembles the context, so the retrieve span runs from the
        # search call to the start of assembly: search plus its collect.
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            if self.tracer.rid is None:
                return fn(*args, **kwargs)
            self._retrieve = self.tracer.open("retrieve")
            return fn(*args, **kwargs)

        return wrapped


def known_defects(spark) -> dict:
    """Probe a defect this benchmark's corpus avoids, so every traced
    rag_churn run reports whether it still reproduces: `upload_text` gives string
    doc_ids, and an index built from integer doc_ids (like the fixture
    `documents` table) fails on the next search when `unionByName` casts
    the upload's id to bigint (CAST_INVALID_INPUT)."""
    from semantic_query_engine_spark.api import SemanticQueryEngine

    docs = spark.createDataFrame(
        [(i, "spark query vector join") for i in range(4)], "doc_id long, text string"
    )
    eng = SemanticQueryEngine(spark).build_from_documents(docs)
    eng.upload_text("tenant0", "probe.txt", "spark stream window", 1)
    try:
        eng.search("spark query", 3).collect()
        status = "fixed"
    except Exception as e:  # noqa: BLE001 - the defect surfaces as a Spark error
        status = f"reproduces: {type(e).__name__}: {str(e).splitlines()[0][:160]}"
    finally:
        eng.index.unpersist()
    return {"upload_into_integer_doc_id_index": status}


class RagRun:
    def __init__(self, spark, workload: str, seed: int, n_docs: int,
                 corpus_path: str, work_dir: str, traced: bool,
                 registry_dir: Optional[str] = None):
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.n_docs = n_docs
        self.corpus_path = corpus_path
        self.work_dir = work_dir
        self.traced = traced
        self.registry_dir = registry_dir
        self.registry: dict = {}
        self.ops = make_schedule(workload, seed)
        self.n_warmup = len(WARMUP[workload])
        self.capacity = CACHE_CAPACITY[workload]
        self.tracer = T.Tracer()
        self.failures: list[str] = []
        self.attempted = 0
        self.answers: dict[int, str] = {}
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.records: list[dict] = []  # per timed op (traced runs)
        self.setup: dict = {}
        self.layers: dict = {}
        self.gen_calls = 0
        self.index_path = os.path.join(work_dir, "index")
        self.expected_delta: dict[str, tuple[int, str]] = {}
        self.expected_rows = 0
        self.known_defects: dict = {}
        self.phases: dict[str, float] = {}
        self.n_done = self.n_hits = self.n_puts = 0

    # -- bookkeeping ---------------------------------------------------
    def fail(self, what: str) -> None:
        self.failures.append(what)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.fail(what)

    # -- setup -----------------------------------------------------------
    def _new_engine(self):
        from semantic_query_engine_spark.api import SemanticQueryEngine

        return SemanticQueryEngine(
            self.spark, chunk_size=CHUNK_SIZE, dim=DIM,
            generate_fn=self._counting_generate, cache_capacity=self.capacity,
        )

    def _counting_generate(self, prompt: str) -> str:
        self.gen_calls += 1
        return stub_generate(prompt)

    def ingest(self, docs) -> None:
        """build_index -> write_index (partitioned by source) ->
        check_count_invariant, the persisted index rag_churn upserts
        into."""
        from pyspark.sql import functions as F
        from semantic_query_engine_spark.plans.index_build import (
            build_index, check_count_invariant, write_index,
        )

        t0 = time.perf_counter()
        index = build_index(docs, chunk_size=CHUNK_SIZE, dim=DIM, user_col="source")
        index = index.withColumn("version", F.lit(0))
        t1 = time.perf_counter()
        write_index(index, self.index_path, user_col="source")
        t2 = time.perf_counter()
        self.attempted += 1
        try:
            check_count_invariant(docs, self.spark.read.parquet(self.index_path), CHUNK_SIZE)
        except ValueError as e:
            self.fail(f"check_count_invariant: {e}")
        t3 = time.perf_counter()
        self.base_keys = {
            r.chunk_key
            for r in self.spark.read.parquet(self.index_path).select("chunk_key").collect()
        }
        self.expected_rows = len(self.base_keys)
        index_bytes = sum(size for size, _ in _files(self.index_path).values())
        self.setup.update(
            ingest_s=t3 - t0, build_ms=1e3 * (t1 - t0), write_ms=1e3 * (t2 - t1),
            check_ms=1e3 * (t3 - t2),
            ingest_docs_per_s=self.n_docs / (t3 - t0),
            bytes_per_input_byte=index_bytes / os.path.getsize(self.corpus_path),
        )

    def build(self, docs) -> None:
        builds = []
        self.engine = None
        for _ in range(N_BUILDS):
            if self.engine is not None:
                self.engine.index.unpersist()
            t0 = time.perf_counter()
            self.engine = self._new_engine().build_from_documents(docs)
            self.engine.index.count()  # materialize the cached index
            builds.append(time.perf_counter() - t0)
        self.setup["build_s"] = builds
        if self.traced:
            Instrument(self.engine, self.tracer)

    # -- operations ------------------------------------------------------
    def run_op(self, i: int, op: Op, timed: bool) -> None:
        self.attempted += 1
        gid = f"pb-{i}"
        if self.traced:
            self.spark.sparkContext.setJobGroup(gid, op.kind)
            self.tracer.rid = gid
            calls0 = self.py4j.n
        root = self.tracer.open(op.kind) if self.traced else None
        self.n_done = i + 1
        gen0 = self.gen_calls
        listing = _files(self.index_path) if op.kind == "upsert" else None
        t0 = time.perf_counter()
        first_s = None
        try:
            if op.kind == "ask":
                out = self.engine.ask(op.text, chat_id=op.chat_id)
            elif op.kind == "stream":
                it = self.engine.ask_stream(op.text)
                chunks = [next(it)]
                first_s = time.perf_counter() - t0
                chunks.extend(it)
                out = " ".join(chunks)
            elif op.kind == "upload":
                out = self.engine.upload_text(op.user_id, op.filename, op.text, op.batch_ts)
            else:
                out = self.upsert(op.delta)
        except Exception as e:  # noqa: BLE001 - a raising op is a failed op
            if self.traced:
                self.tracer.close(root)
                self.tracer.rid = None
            self.fail(f"op {i} ({op.kind}) raised {type(e).__name__}: {e}")
            return
        wall = time.perf_counter() - t0
        if self.traced:
            self.tracer.close(root)
            self.tracer.rid = None
            self.spark.sparkContext.setJobGroup("pb-idle", "idle")
        if listing is not None and timed:
            rewritten = _rewritten_bytes(listing, _files(self.index_path))
            self.samples["rewrite_ratio"].append(rewritten / self.delta_bytes)
        hit = self.gen_calls == gen0
        if op.kind in ("ask", "stream"):
            self.n_hits += hit
            self.n_puts += not hit
        self._check_op(i, op, out, hit)
        if not timed:
            return
        kind = "upload" if op.kind == "upload" else "upsert" if op.kind == "upsert" else "ask"
        self.samples[kind].append(wall)
        if kind == "ask":
            self.samples["ask_hit" if hit else "ask_miss"].append(wall)
        if first_s is not None:
            self.samples["stream_first"].append(first_s)
        if self.traced:
            self.records.append(
                {"gid": gid, "kind": kind, "hit": hit, "wall": wall,
                 "py4j": self.py4j.n - calls0, "root": root}
            )

    def _check_op(self, i: int, op: Op, out, hit: bool) -> None:
        if op.kind in ("ask", "stream"):
            self.answers[i] = out
            if op.first is None:
                ok = not hit and isinstance(out, str) and out.startswith("ANSWER[")
                what = "new query was served from the cache" if hit else "bad answer"
            else:
                ok = hit and out == self.answers.get(op.first)
                what = "repeat did not hit" if not hit else "repeat changed its answer"
        elif op.kind == "upload":
            ok = out == f"{op.filename[:-len('.txt')]}_{op.batch_ts}"
            what = f"upload returned {out!r}"
        else:
            ok, what = out is None, "upsert returned a value"
        if not ok:
            self.fail(f"op {i} ({op.kind}): {what}")

    def upsert(self, j: int) -> None:
        from semantic_query_engine_spark.plans.index_build import upsert_index

        rows = make_delta(self.seed, j, self.n_docs, DIM)
        for r in rows:
            key = r["chunk_key"]
            if key not in self.expected_delta and key not in self.base_keys:
                self.expected_rows += 1
            self.expected_delta[key] = (r["version"], r["chunk_text"])
        delta = self.spark.createDataFrame(
            rows,
            "doc_id string, chunk_id int, chunk_key string, chunk_text string, "
            "embedding array<double>, source string, version int",
        )
        # the delta's own size: its strings plus 8 bytes per number
        self.delta_bytes = sum(
            len(r["chunk_key"]) + len(r["chunk_text"]) + len(r["source"]) + len(r["doc_id"])
            + 8 * (len(r["embedding"]) + 2) for r in rows
        )
        upsert_index(self.spark, self.index_path, delta, ["chunk_key"], "version")

    # -- the run ---------------------------------------------------------
    def run(self, seconds: float, deadline: float) -> None:
        spark = self.spark
        docs = spark.read.parquet(self.corpus_path)
        t0 = time.perf_counter()
        if self.workload == "rag_churn":
            self.ingest(docs)
        self.build(docs)
        if self.traced:
            self.py4j = T.Py4jCounter(spark)
            self.stats = T.SparkStats(spark)
            gc0, spill0 = self.stats.gc_ms(), self.stats.spill_bytes()
        self.operate(seconds, deadline, setup_t0=t0)
        if self.traced:
            self.py4j.remove()
            self.layers.update(
                {"spark.gc_ms": self.stats.gc_ms() - gc0,
                 "spark.spill_bytes": self.stats.spill_bytes() - spill0}
            )
        t_checks = time.perf_counter()
        self.post_checks()
        self.phases["post_checks_s"] = time.perf_counter() - t_checks
        if self.registry_dir is not None:
            # last: it releases every pinned RDD, the engine's index too
            self.registry = run_registry(
                spark, self.registry_dir, T.SparkStats(spark), self.tracer
            )
            self.attempted += self.registry["attempted"]
            self.failures += self.registry["failures"]

    def operate(self, seconds: float, deadline: float, setup_t0: float) -> None:
        """Warm-up, the fixed timed block, then unsampled (still checked)
        operations until --seconds have passed."""
        tw = time.perf_counter()
        for i in range(self.n_warmup):
            self.run_op(i, self.ops[i], timed=False)
        self.setup["warmup_s"] = time.perf_counter() - tw
        self.setup["setup_wall_s"] = time.perf_counter() - setup_t0
        self.block_steal = None
        steal0, start = bench._steal_ticks(), time.perf_counter()
        end_timed = self.n_warmup + TIMED_OPS[self.workload]
        for i in range(self.n_warmup, len(self.ops)):
            if i == end_timed:
                self.block_steal = bench._steal_frac(
                    steal0, bench._steal_ticks(), time.perf_counter() - start
                )
            now = time.perf_counter()
            if now >= deadline or (i >= end_timed and now - start >= seconds):
                break
            self.run_op(i, self.ops[i], timed=i < end_timed)
        self.window_s = time.perf_counter() - start
        if self.block_steal is None:
            self.block_steal = bench._steal_frac(
                steal0, bench._steal_ticks(), self.window_s
            )

    # -- checks outside timing ---------------------------------------------
    def post_checks(self) -> None:
        eng = self.engine
        rng = random.Random(f"check:{self.seed}")
        done = self.ops[: self.n_done]
        asked = [i for i, op in enumerate(done) if op.kind in ("ask", "stream") and op.first is None]
        index = eng.index.select("chunk_key", "embedding").toArrow()
        keys = np.array(index.column("chunk_key").to_pylist())
        mat = np.stack(index.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1)
        for i in rng.sample(asked, min(N_SEARCH_CHECKS, len(asked))):
            q = self.ops[i].text
            got = eng.search(q, 3).collect()
            qv = np.array(eng._embed_query(q), dtype=np.float64)
            qn = np.linalg.norm(qv)
            with np.errstate(divide="ignore", invalid="ignore"):
                exact = np.where((norms == 0) | (qn == 0), 0.0, mat @ qv / (norms * qn))
            by_key = dict(zip(keys, exact))
            floor = min((r.score for r in got), default=np.inf)
            ok = (
                len(got) == min(3, len(keys))
                and all(abs(by_key[r.chunk_key] - r.score) <= 1e-9 for r in got)
                # no chunk left out scores above the lowest one returned
                and not any(
                    s > floor + 1e-9 for k, s in by_key.items()
                    if k not in {r.chunk_key for r in got}
                )
            )
            top = np.lexsort((keys, -exact))[:3]
            self.check(ok, f"search top-3 for op {i} differs from exact NumPy top-3: "
                           f"spark {[(r.chunk_key, r.score) for r in got]} "
                           f"numpy {[(keys[j], exact[j]) for j in top]}")
        stats = eng.cache_stats()
        puts = self.n_puts
        self.cache = {"entries": stats["entries"], "puts": puts,
                      "evictions": puts - stats["entries"]}
        repeats = sum(1 for op in done if op.kind in ("ask", "stream") and op.first is not None)
        self.check(self.n_hits == repeats,
                   f"cache hits {self.n_hits} != seeded repeats {repeats}")
        self.check(stats["entries"] == min(self.capacity, puts),
                   f"cache holds {stats['entries']} entries, expected "
                   f"{min(self.capacity, puts)}")
        if self.capacity >= puts:
            self.check(stats.get("total_hits", 0) - stats["entries"] == self.n_hits,
                       "cache frequency counts disagree with the observed hits")
        if self.expected_delta:
            self._check_upserts()
        if self.workload == "rag_churn" and self.traced:
            t = time.perf_counter()
            self.known_defects = known_defects(self.spark)
            self.phases["defect_probe_s"] = time.perf_counter() - t

    def _check_upserts(self) -> None:
        from pyspark.sql import functions as F

        idx = self.spark.read.parquet(self.index_path)
        self.check(idx.count() == self.expected_rows,
                   "upserted index row count differs from the expected count")
        rows = idx.filter(F.col("chunk_key").isin(list(self.expected_delta))).select(
            "chunk_key", "version", "chunk_text").collect()
        got = {r.chunk_key: (r.version, r.chunk_text) for r in rows}
        self.check(got == self.expected_delta and len(rows) == len(got),
                   "after upserts the latest version does not win for every key")

    # -- per-layer figures of a traced run --------------------------------
    def layer_metrics(self) -> dict:
        spans = self.tracer.spans
        selfs = T.self_times(spans)
        by_rid: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        embeds: dict[str, int] = defaultdict(int)
        for s, st in zip(spans, selfs):
            by_rid[s.rid][s.name] += st
            if s.name == "embed_query":
                embeds[s.rid] += 1
        asks = [r for r in self.records if r["kind"] == "ask"]
        groups = {r["gid"]: self.stats.group(r["gid"]) for r in self.records}

        def mean(xs) -> float:
            xs = list(xs)
            return sum(xs) / len(xs) if xs else 0.0

        def stage_ms(name: str) -> float:
            return 1e3 * mean(by_rid[r["gid"]][name] for r in asks)

        def per(kind_filter, key) -> float:
            return mean(groups[r["gid"]][key] for r in self.records if kind_filter(r))

        is_hit = lambda r: r["kind"] == "ask" and r["hit"]  # noqa: E731
        is_miss = lambda r: r["kind"] == "ask" and not r["hit"]  # noqa: E731
        is_ask = lambda r: r["kind"] == "ask"  # noqa: E731
        uploads = [r for r in self.records if r["kind"] == "upload"]
        out = {
            "api.embed_query_ms": stage_ms("embed_query"),
            "api.embed_calls_per_ask": mean(embeds[r["gid"]] for r in asks),
            "api.cache_probe_ms": stage_ms("cache_probe"),
            "api.retrieve_ms": stage_ms("retrieve"),
            "api.assemble_ms": stage_ms("assemble"),
            "api.generate_ms": stage_ms("generate"),
            "api.cache_put_ms": stage_ms("cache_put"),
            "api.untraced_ms": 1e3 * mean(selfs[r["root"]] for r in asks),
            "api.ask_wall_ms": 1e3 * mean(r["wall"] for r in asks),
            "api.upload_ms": 1e3 * mean(by_rid[r["gid"]]["upload"] for r in uploads),
            "operators.cache.hit_ratio": mean(1.0 if r["hit"] else 0.0 for r in asks),
            "operators.cache.entries": float(self.cache["entries"]),
            "operators.cache.evictions": float(self.cache["evictions"]),
            "spark.jobs_per_ask_hit": per(is_hit, "jobs"),
            "spark.jobs_per_ask_miss": per(is_miss, "jobs"),
            "spark.jobs_per_upload": per(lambda r: r["kind"] == "upload", "jobs"),
            "spark.tasks_per_ask": per(is_ask, "tasks"),
            "spark.job_ms_per_ask": per(is_ask, "job_ms"),
            "spark.driver_ms_per_ask": mean(
                1e3 * r["wall"] - groups[r["gid"]]["job_ms"] for r in asks
            ),
            "py4j.calls_per_ask": mean(r["py4j"] for r in asks),
            "plans.index_build.build_ms": self.setup.get("build_ms", 0.0),
            "plans.index_build.write_ms": self.setup.get("write_ms", 0.0),
            "plans.index_build.check_ms": self.setup.get("check_ms", 0.0),
            "plans.index_build.upsert_ms": 1e3 * mean(self.samples["upsert"]),
            "plans.index_build.upsert_rewrite_ratio": mean(self.samples["rewrite_ratio"]),
            "plans.index_build.bytes_per_input_byte": self.setup.get(
                "bytes_per_input_byte", 0.0
            ),
            "trace.ask_p50_ms": 1e3 * T.median(self.samples["ask"]),
        }
        figures = self.registry.get("queries", {})
        for q in QUERIES:
            for k in ("build_ms", "catalyst_ms", "exec_ms", "jobs", "stages", "shuffle_bytes"):
                out[f"queries.{q}.{k}"] = float(figures.get(q, {}).get(k, 0.0))
        out.update(self.layers)
        return out
