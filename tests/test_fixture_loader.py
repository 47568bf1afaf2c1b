"""Events-loader robustness across parquet timestamp physical types —
the round-3 incident class: the driver regenerated events.parquet as
TIMESTAMP(MICROS) and an unconditional nanos->micros conversion threw
on every events query.  The loader must normalize ts to TIMESTAMP
(session-UTC) whatever the file says."""

from __future__ import annotations

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from semantic_query_engine_spark.sources.fixtures import load_table

_ROWS = [
    (1, datetime.datetime(2024, 1, 1, 0, 0, 0), 7, "signup", 1.5, "{}"),
    (2, datetime.datetime(2024, 1, 1, 0, 30, 0), 7, "purchase", 2.5, "{}"),
]


def _write_events(dirpath, ts_unit: str) -> str:
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in _ROWS], pa.int64()),
            "ts": pa.array([r[1] for r in _ROWS], pa.timestamp(ts_unit)),
            "user_id": pa.array([r[2] for r in _ROWS], pa.int64()),
            "event_type": pa.array([r[3] for r in _ROWS]),
            "value": pa.array([r[4] for r in _ROWS], pa.float64()),
            "props": pa.array([r[5] for r in _ROWS]),
        }
    )
    pq.write_table(tbl, f"{dirpath}/events.parquet")
    return str(dirpath)


@pytest.mark.parametrize("ts_unit", ["ns", "us", "ms"])
def test_load_events_normalizes_ts_across_physical_types(
    spark, tmp_path, ts_unit
):
    sf_dir = _write_events(tmp_path, ts_unit)
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(
        (r.event_id, r.ts.strftime("%Y-%m-%d %H:%M:%S")) for r in df.collect()
    )
    assert got == [
        (1, "2024-01-01 00:00:00"),
        (2, "2024-01-01 00:30:00"),
    ]


def test_plan_cache_invalidates_on_file_regeneration(spark, tmp_path):
    """Regenerating a fixture at the same path within one session (the
    round-3 incident class) must evict the cached plan — including a
    physical-type change from NANOS to MICROS."""
    import os
    import time

    sf_dir = _write_events(tmp_path, "ns")
    first = load_table(spark, sf_dir, "events")
    assert first.count() == 2
    assert load_table(spark, sf_dir, "events") is first  # cache hit

    time.sleep(0.02)  # ensure a distinct mtime_ns even on coarse clocks
    tbl = pa.table(
        {
            "event_id": pa.array([9], pa.int64()),
            "ts": pa.array(
                [datetime.datetime(2025, 6, 1, 12, 0, 0)], pa.timestamp("us")
            ),
            "user_id": pa.array([1], pa.int64()),
            "event_type": pa.array(["click"]),
            "value": pa.array([0.5], pa.float64()),
            "props": pa.array(["{}"]),
        }
    )
    pq.write_table(tbl, os.path.join(sf_dir, "events.parquet"))
    fresh = load_table(spark, sf_dir, "events")
    assert fresh is not first
    rows = fresh.collect()
    assert [r.event_id for r in rows] == [9]
    assert dict(fresh.dtypes)["ts"] == "timestamp"


def _write_rotated(src_dir, dst_dir, name: str, col: str, shift: int) -> None:
    """Copy a fixture table, rotating `col` by `shift` rows against the
    id column (same row count and schema, different contents)."""
    import os

    tbl = pq.read_table(os.path.join(src_dir, f"{name}.parquet"))
    vals = tbl.column(col).to_pylist()
    vals = vals[shift:] + vals[:shift]
    i = tbl.schema.get_field_index(col)
    tbl = tbl.set_column(i, col, pa.array(vals, tbl.schema.field(col).type))
    pq.write_table(tbl, os.path.join(dst_dir, f"{name}.parquet"))


def test_build_once_rebuilds_only_when_a_named_table_changes(spark, tmp_path):
    """The build-once store: one build per key; rewriting a table the
    entry names rebuilds exactly once, into a new path; rewriting a
    table it does not name rebuilds nothing."""
    import os
    import time

    from semantic_query_engine_spark.sources.fixtures import build_once

    sf_dir = _write_events(tmp_path, "us")
    pq.write_table(pa.table({"doc_id": [1]}), tmp_path / "documents.parquet")
    calls = []

    def build(path):
        calls.append(path)
        return path

    def get():
        return build_once(spark, sf_dir, ("documents",), "probe", build)

    first = get()
    assert get() == first and calls == [first]
    assert os.path.isdir(first)

    time.sleep(0.02)
    _write_events(tmp_path, "ms")  # not named by the entry
    assert get() == first and len(calls) == 1

    time.sleep(0.02)
    pq.write_table(pa.table({"doc_id": [2]}), tmp_path / "documents.parquet")
    second = get()
    assert get() == second and len(calls) == 2
    assert second != first and os.path.isdir(first)


def test_regenerated_fixture_gets_a_fresh_index(spark, sf_dir, tmp_path):
    """A fixture regenerated at the same path mid-process must not be
    probed through the index built from its old contents: the persisted
    shingle index must keep agreeing with the in-plan dedup twin, and
    the persisted IVF-PQ index must keep its recall gate."""
    import time

    from semantic_query_engine_spark.queries.dedup_q import (
        ann_ivfpq_topk_indexed,
        dedup_incremental,
        dedup_incremental_indexed,
    )

    def rows(fn):
        return sorted(map(tuple, fn(spark, str(tmp_path)).collect()))

    for shift in (0, 1):
        if shift:
            time.sleep(0.02)
        _write_rotated(sf_dir, tmp_path, "documents", "text", shift)
        _write_rotated(sf_dir, tmp_path, "embeddings", "embedding", shift)
        indexed = rows(dedup_incremental_indexed)
        assert indexed and indexed == rows(dedup_incremental)
        topk = ann_ivfpq_topk_indexed(spark, str(tmp_path)).collect()
        assert topk and all(r.recall_ok for r in topk)


def test_no_module_level_cache_dicts_in_queries():
    # build-once state goes through sources/fixtures.build_once, which
    # keys on the fixture files' stamps; a hand-rolled `_*_CACHE` dict
    # keyed on the path alone serves a stale index after regeneration
    import ast
    import os
    import re

    qdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "semantic_query_engine_spark",
        "queries",
    )
    offenders = []
    for fn in sorted(os.listdir(qdir)):
        if not fn.endswith(".py"):
            continue
        with open(os.path.join(qdir, fn)) as f:
            tree = ast.parse(f.read())
        for node in tree.body:
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign)
                else []
            )
            for t in targets:
                if isinstance(t, ast.Name) and re.fullmatch(r"_\w*_CACHE", t.id):
                    offenders.append(f"{fn}:{node.lineno} {t.id}")
    assert not offenders, offenders
