"""BENCHMARK.json lists exactly the metrics the benchmark prints."""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import layers  # noqa: E402
import run as bench  # noqa: E402


def test_declared_metrics_match_the_code():
    with open(os.path.join(bench.ROOT, "BENCHMARK.json"),
              encoding="utf-8") as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(bench.WORKLOADS)
    assert [m["name"] for m in spec["end_to_end"]] == list(layers.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] \
        == [lay.name for lay in bench.PER_LAYER]
