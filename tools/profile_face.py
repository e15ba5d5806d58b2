#!/usr/bin/env python
"""Phase-level profiler for the twin-gated faces' DISTRIBUTED paths
(guide §1: measure first; §7.1: find where the time goes before
touching anything).

Runs ONE face in this process under ``placement.distributed()`` (every
driver-local cap pinned to 0, the dist_bench worker's configuration),
wrapping the Spark scheduler
with a job-event listener tally and the face's own module functions
with wall-clock timers, then prints a per-phase breakdown.

Usage: python tools/profile_face.py x17_stream_maintained_spans [n_runs]
"""

from __future__ import annotations

import json
import os
import sys
import time
from collections import defaultdict

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from hfcommunity_spark.operators import placement  # noqa: E402
from tools.dist_bench import _sf_dir  # noqa: E402


def _wrap(mod, fn_names: list[str], tally: dict) -> None:
    import functools
    import importlib

    m = importlib.import_module(mod)
    for fn in fn_names:
        # a name the module no longer has raises here instead of
        # silently dropping out of the breakdown
        orig = getattr(m, fn)

        def mk(orig, key):
            @functools.wraps(orig)
            def timed(*a, **kw):
                t0 = time.monotonic()
                try:
                    return orig(*a, **kw)
                finally:
                    dt = time.monotonic() - t0
                    tally[key][0] += dt
                    tally[key][1] += 1
            return timed

        setattr(m, fn, mk(orig, f"{mod.rsplit('.',1)[-1]}.{fn}"))


def main() -> None:
    name = sys.argv[1]
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    tally: dict = defaultdict(lambda: [0.0, 0])
    _wrap("hfcommunity_spark.operators.graph", [
        "fold_components_delivery", "_fold_local", "_min_labels",
        "component_merge_plan_pruned", "apply_relabel_in_place",
        "apply_changes_vertex_layout", "_sync_catalog_partitions",
        "materialize_and_free", "_eager_checkpoint", "_lazy_checkpoint",
        "_quotient_relabel", "resolve_assign_pruned",
        "write_component_assign", "write_vertex_assign",
    ], tally)
    _wrap("hfcommunity_spark.operators.bucketed", [
        "read_rows", "read_table", "write_buckets", "snapshot",
        "flat_snapshot", "serve", "union_serves",
    ], tally)
    _wrap("hfcommunity_spark.operators.dedup", [
        "span_fold_in_place", "_span_fold_local", "_span_fold_distributed",
        "_bucketed_span_probe", "_span_changed_frame", "_span_stats_serve",
        "append_span_postings", "_x15_pristine_layouts",
        "_x17_pristine_layouts", "_delta_post_jaccard_pairs",
        "_delta_base_span_postings", "_delta_base_span_stats",
        "write_span_postings", "write_span_stats",
        "_delta_arriving_docs", "_span_exploded_frame",
    ], tally)

    from bench import _warm

    from hfcommunity_spark.queries import all_queries
    from hfcommunity_spark.session import get_spark

    spark = get_spark(app_name="hfc-profile-face")
    spark.sparkContext.setLogLevel("ERROR")
    runs = []
    with placement.distributed():
        _warm(spark)
        spec = all_queries()[name]
        for i in range(n_runs):
            for k in tally:
                tally[k] = [0.0, 0]
            t0 = time.monotonic()
            spec.spark(spark, _sf_dir()).count()
            total = time.monotonic() - t0
            runs.append(round(total, 3))
            print(f"--- run {i}: total {total:.3f}s")
            for k, (sec, n) in sorted(tally.items(),
                                      key=lambda kv: -kv[1][0]):
                print(f"    {k:55s} {sec:7.3f}s  n={n}")
    print(json.dumps({"name": name, "runs": runs}))
    spark.stop()


if __name__ == "__main__":
    main()
