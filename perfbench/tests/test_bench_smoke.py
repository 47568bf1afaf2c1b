"""Short end-to-end runs at sf0.001 (500 documents): the result line
names exactly the metrics BENCHMARK.json declares, every check passes,
and the detail line states the sample counts."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "5",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=REPO, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.strip().splitlines()
    return json.loads(lines[-2])["perfbench"], json.loads(lines[-1])


@pytest.mark.parametrize(
    "workload,trace,key",
    [("rag_session", 0, "end_to_end"), ("rag_churn", 1, "per_layer")],
)
def test_smoke_prints_every_metric(workload, trace, key):
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        declared = {m["name"]: m["unit"] for m in json.load(f)[key]}
    detail, result = _run(workload, trace)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, detail["failures"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == declared
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())
    assert detail["latency_ms"]["ask"]["n"] >= 1
    assert detail["env"]["SPARK_GRAFT_CPUS"] == str(len(os.sched_getaffinity(0)))
    if trace:
        assert os.path.exists(os.path.join(REPO, detail["spans_file"]))


def test_exits_without_result_outside_the_repository(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(os.path.join(REPO, "perfbench")):
        if name.endswith(".py"):
            with open(os.path.join(REPO, "perfbench", name)) as src:
                (bench / name).write_text(src.read())
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "rag_session", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert out.returncode != 0
    assert '"correct"' not in out.stdout
