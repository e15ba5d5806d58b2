#!/usr/bin/env python
"""Phase timer for ONE caps-0 x17 distributed fold (guide §1: find
where the time goes before touching anything).  Reproduces
span_fold_in_place's distributed body step by step with wall timers,
on a private hardlink copy of the pristine layouts — same inputs,
same actions, no mutation of shared state beyond the private copy.

Usage: python tools/profile_x17_fold.py [n_repeats]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time
import uuid

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from tools.dist_bench import _pin_caps, _sf_dir  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    _pin_caps()
    from bench import _warm

    from pyspark.sql import functions as F
    from hfcommunity_spark.operators import bucketed
    from hfcommunity_spark.operators import dedup as dd
    from hfcommunity_spark.operators.graph import (
        _bucket_expr,
        _bucket_ids,
        _write_tasks,
    )
    from hfcommunity_spark.session import get_spark

    spark = get_spark(app_name="hfc-profile-x17-fold")
    spark.sparkContext.setLogLevel("ERROR")
    _warm(spark)

    sf = _sf_dir()
    pristine = dd._x17_pristine_layouts(spark, sf)
    arriving_all = dd._delta_arriving_docs(spark, sf)

    for rep in range(n):
        work = tempfile.mkdtemp(
            prefix=f"hfc_x17_prof_{uuid.uuid4().hex[:8]}_"
        )
        pdir = os.path.join(work, "postings")
        sdir = os.path.join(work, "stats")
        bucketed.snapshot(os.path.join(pristine, "postings"), pdir)
        bucketed.snapshot(os.path.join(pristine, "stats"), sdir)
        arriving = arriving_all.filter(
            F.expr(f"(doc_id DIV {dd._DELTA_SPLIT_MOD}) "
                   f"% {dd.X17_DELIVERIES}") == 0
        )
        t: dict[str, float] = {}

        def mark(key: str, t0: float) -> float:
            now = time.monotonic()
            t[key] = t.get(key, 0.0) + (now - t0)
            return now

        buckets = dd.SPAN_H_BUCKETS
        stats_buckets = dd.SPAN_STATS_BUCKETS
        t0 = time.monotonic()
        stats = spark.read.parquet(sdir).select(
            "doc_id", "n_spans", "n_dup_spans"
        )
        t0 = mark("stats_read_plan", t0)
        batch_postings = dd.span_postings_frame(
            arriving, wide=False
        ).localCheckpoint()
        t0 = mark("batch_postings_ckpt", t0)
        probe = dd._bucketed_span_probe(
            spark, pdir, batch_postings, buckets
        ).localCheckpoint()
        t0 = mark("probe_ckpt", t0)
        changed = dd._span_delta_changed_stats(
            probe, batch_postings, stats
        )
        t0 = mark("changed_plan", t0)
        changed = changed.localCheckpoint()
        t0 = mark("changed_ckpt", t0)
        sbkts = _bucket_ids(changed, ["doc_id"], stats_buckets)
        t0 = mark("bucket_ids", t0)
        pruned = spark.read.parquet(sdir).filter(
            F.col("d_bucket").isin(sbkts)
        )
        out = (
            pruned.join(
                F.broadcast(changed.select("doc_id")),
                "doc_id", "left_anti",
            )
            .select("doc_id", "n_spans", "n_dup_spans")
            .unionByName(changed)
            .withColumn("d_bucket", _bucket_expr("doc_id", stats_buckets))
        )
        rows = out.localCheckpoint()
        t0 = mark("upsert_rows_ckpt", t0)
        dd._span_fold_write_marker(pdir, range(buckets))
        t0 = mark("journal_marker", t0)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                       "dynamic")
        try:
            (
                rows.repartition(_write_tasks(len(sbkts)),
                                 F.col("d_bucket"))
                .write.mode("overwrite")
                .partitionBy("d_bucket")
                .parquet(sdir)
            )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode",
                           prev)
        t0 = mark("stats_overwrite_write", t0)
        dd.append_span_postings(batch_postings, pdir, buckets)
        t0 = mark("postings_append_write", t0)
        os.unlink(dd._span_fold_marker_path(pdir))
        spark.catalog.refreshByPath(pdir)
        spark.catalog.refreshByPath(sdir)
        t0 = mark("refresh", t0)
        # serve read, as the x17 face does on the caps-0 path
        snap = os.path.join(work, "serve0")
        bucketed.snapshot(sdir, snap)
        t0 = mark("serve_snapshot_copy", t0)
        served = spark.read.parquet(snap).select(
            "doc_id", "n_spans", "n_dup_spans",
            (F.col("n_dup_spans").cast("double")
             / F.col("n_spans")).alias("dup_ratio"),
        )
        served.count()
        t0 = mark("serve_read_count", t0)
        total = sum(t.values())
        print(f"--- rep {rep}: fold+serve total {total:.3f}s")
        for k, v in sorted(t.items(), key=lambda kv: -kv[1]):
            print(f"    {k:28s} {v:7.3f}s")
        shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
