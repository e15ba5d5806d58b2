#!/usr/bin/env python
"""Capture .explain('formatted') output for declared queries into
plans/<tag>/<query>_<suffix>.txt (the judged plan-evidence artifact).

For the maintained-lifecycle faces the declared function's returned
frame is a materialized union (the fold work happens in jobs before
it), so alongside the face plan this also captures the load-bearing
INTERNAL plans the round's claims reference:
  - x17/span: the bucketed probe (PartitionFilters + pushed In), the
    changed-doc frame (the span kernel per hash group, merged per doc)
    and the stats-upsert write frame of the distributed fold chain,
    over the pristine layouts
  - x15: the pruned endpoint-resolution plan over the vertex layout

Usage: python tools/capture_plans.py <tag> <suffix> <query> [...]
   e.g. python tools/capture_plans.py r14 after x17_stream_maintained_spans
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)


def _explain(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    out_dir = os.path.join(_REPO, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    from bench import _sf_dir, _warm

    from hfcommunity_spark.queries import all_queries
    from hfcommunity_spark.session import get_spark

    spark = get_spark(app_name="hfc-capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    _warm(spark)
    sf = _sf_dir()
    specs = all_queries()

    for name in names:
        parts = [f"== {name} @ {sf} — declared-face final frame ==\n"]
        parts.append(_explain(specs[name].spark(spark, sf)))
        if name.startswith(("x17", "dd_span")):
            from hfcommunity_spark.operators import dedup as dd

            pristine = dd._x17_pristine_layouts(spark, sf)
            pdir = os.path.join(pristine, "postings")
            sdir = os.path.join(pristine, "stats")
            arriving = dd._delta_arriving_docs(spark, sf).filter(
                dd._delta_arrival() == 0
            )
            batch = dd.span_postings_frame(
                arriving, wide=False
            ).localCheckpoint()
            probe = dd._bucketed_span_probe(
                spark, pdir, batch, dd.SPAN_H_BUCKETS
            )
            parts.append(
                "\n== internal: bucketed span probe (PartitionFilters"
                " on h_bucket + pushed In on h) ==\n"
            )
            parts.append(_explain(probe))
            changed = dd._span_changed_frame(batch, probe)
            parts.append(
                "\n== internal: changed-doc frame (the span kernel per"
                " hash group, merged per doc; the distributed chain's"
                " one toArrow collect) ==\n"
            )
            parts.append(_explain(changed))
            stats = spark.read.schema(
                dd._SPAN_STATS_READ_SCHEMA
            ).parquet(sdir)
            upsert = dd._span_stats_upsert(
                spark, stats, changed.toArrow(), dd.SPAN_STATS_BUCKETS
            )
            parts.append(
                "\n== internal: stats-upsert write frame (broadcast"
                " local relations) ==\n"
            )
            parts.append(_explain(upsert))
        if name.startswith("x15"):
            from pyspark.sql import functions as F
            from hfcommunity_spark.operators import dedup as dd
            from hfcommunity_spark.operators import graph as G

            pristine = dd._x15_pristine_layouts(spark, sf)
            vdir = os.path.join(pristine, "vassign")
            verts = spark.range(5).select(
                F.col("id").alias("vertex")
            )
            resolved = G.resolve_assign_pruned(
                spark, spark.read.parquet(vdir), verts,
                dd.X15_BUCKETS,
            )
            parts.append(
                "\n== internal: pruned endpoint resolution over the"
                " vertex layout ==\n"
            )
            parts.append(_explain(resolved))
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write("".join(parts))
        print("wrote", path)
    spark.stop()


if __name__ == "__main__":
    main()
