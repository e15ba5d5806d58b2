"""Failure accounting: a failed op is counted, recorded and left out of
the latencies."""
import os
import sys
import time
from types import SimpleNamespace

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import layers  # noqa: E402
import run as bench  # noqa: E402
from worker import Run  # noqa: E402


def _run(seconds=0.0):
    args = SimpleNamespace(trace=0, seconds=seconds)
    return Run(args, sc=None)


def test_failed_op_is_recorded_and_excluded():
    r = _run()

    def boom():
        raise ValueError("bad face")

    def make_ops(tag):
        return [("good", lambda: 7), ("bad", boom)]

    r.loop(1, make_ops)
    assert len(r.warm) == 1 and len(r.passes) == 1
    assert [f["op"] for f in r.failures] == ["bad", "bad"]
    assert "bad face" in r.failures[0]["error"]
    ops = r.passes[0]["ops"]
    assert [op["ok"] for op in ops] == [True, False]

    for p in r.passes:
        for op in p["ops"]:
            op["rows"] = 1 if op.pop("out") else 0
    res = {"warm": r.warm, "passes": r.passes, "first_op": 0.0,
           "driver_peak_rss_mb": 1.0}
    assert bench.counts(res) == (4, 2)
    e2e = layers.end_to_end(res, spawned=0.0)
    # the median op latency is the good op's alone
    assert e2e["op_p50_s"] == ops[0]["wall_s"]


def test_loop_times_one_whole_pass_then_stops_at_the_budget():
    r = _run(seconds=0.45)
    r.loop(0, lambda tag: [(f"op{i}", lambda: time.sleep(0.1))
                           for i in range(4)])
    # the first pass always completes; the next stops at the budget
    assert [len(p["ops"]) for p in r.passes] == [4, 1]
    assert not r.failures


def test_loop_times_at_least_two_ops():
    r = _run(seconds=0.0)
    r.loop(0, lambda tag: [("load", lambda: time.sleep(0.01))])
    assert [len(p["ops"]) for p in r.passes] == [1, 1]
