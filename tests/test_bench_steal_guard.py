"""The bench harness's hypervisor steal guard (round 14).

Pure-python: the guard's arithmetic must be right for the retake
decision and the emitted steal stamp to mean what they claim; no Spark
session involved.
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_steal_ticks_readable_on_procfs():
    t = bench._steal_ticks()
    # on Linux/procfs this is a non-negative cumulative counter; the
    # -1 sentinel is reserved for non-procfs platforms
    assert isinstance(t, int)
    if os.path.exists("/proc/stat"):
        assert t >= 0
        assert bench._steal_ticks() >= t  # monotone


def test_steal_frac_arithmetic():
    cpus = os.cpu_count() or 1
    clk = bench._CLK_TCK
    # a window where HALF the machine's tick budget was stolen
    wall = 2.0
    stolen = int(0.5 * wall * clk * cpus)
    assert abs(bench._steal_frac(1000, 1000 + stolen, wall) - 0.5) < 1e-6
    # zero steal -> 0.0
    assert bench._steal_frac(1000, 1000, wall) == 0.0


def test_steal_frac_sentinels_are_quiet():
    # unreadable counters or a degenerate window must not trigger
    # retakes (0.0 is below any threshold), not raise
    assert bench._steal_frac(-1, 100, 1.0) == 0.0
    assert bench._steal_frac(100, -1, 1.0) == 0.0
    assert bench._steal_frac(100, 200, 0.0) == 0.0


def test_requeue_clean_retry_replaces_row():
    # a clean end-of-sweep retry replaces the storm-inflated median
    # and clears the poisoned flag (round 15, VERDICT r14 #1)
    t, frac = bench._merge_requeue(5.61, 0.13, 1.06, None)
    assert t == 1.06
    assert frac is None


def test_requeue_still_poisoned_keeps_faster_upper_bound():
    # both medians are storm-inflated upper bounds: keep the faster
    # one, keep the WORST accepted steal fraction, keep the flag
    t, frac = bench._merge_requeue(5.61, 0.13, 3.2, 0.08)
    assert t == 3.2
    assert frac == 0.13
    t, frac = bench._merge_requeue(2.0, 0.06, 4.0, 0.19)
    assert t == 2.0
    assert frac == 0.19


def test_requeue_failure_keeps_the_poisoned_row_and_goes_on():
    # a failed retry child (run_group -> None) keeps that row's original
    # median, still stamped; the next row's retry is still merged
    timings = {"a": 5.61, "b": 2.0, "c": 1.5}
    poisoned = {"a": 0.13, "b": 0.06}
    calls = []

    def run_group(group):
        calls.append(group)
        if group == ["a"]:
            return None
        return {"timings": {"b": 1.2}, "steal_retakes": 2, "steal_worst": 0.04}

    requeued, retakes, worst = bench._requeue_poisoned(timings, poisoned, run_group)
    assert calls == [["a"], ["b"]]
    assert timings == {"a": 5.61, "b": 1.2, "c": 1.5}
    assert poisoned == {"a": 0.13}
    assert (requeued, retakes, worst) == (1, 2, 0.04)
