"""Delta-vs-rebuild economics for the maintained-index family.

The incremental maintenance functions (``span_fold_in_place``,
``jaccard_pair_delta``, ``minhash_band_delta``, ``components_delta``)
exist so a deployment pays per-DELIVERY cost instead of per-CORPUS
cost on every crawl drop.  A single-scale timing cannot show that —
at sf0.1 (5 k docs) fixed per-job overheads dominate and the delta's
several small stages LOSE to a two-stage rebuild.  The honest
measurement is the GROWTH LAW: hold the delivery size FIXED (a daily
drop does not grow with the corpus' age) and grow the corpus 10×
(sf0.1 → the rehearsal's sf1.0); the rebuild must grow ~linearly
with the corpus while the delta's growth stays well below it.

Writes DELTA_BENCH.json with per-index rebuild/delta seconds at both
scales and the 10×-step growth ratios.  Exactness is the tests' job
(delta == rebuild, tests/test_llmops.py, tests/test_graph.py); this
file records the economics.  Run it alone on the machine — concurrent
Spark jobs corrupt timings.  Requires the sf1.0 rehearsal corpus
(python tools/scale_rehearsal.py --regen builds it).

Usage: python tools/delta_bench.py
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SCALES = (
    ("sf0.1", "/root/testdata/sf0.1/documents.parquet"),
    ("sf1.0", os.path.join(REPO, ".rehearsal", "sf1.0",
                           "documents.parquet")),
)
DELIVERY_DOCS = 50  # fixed drop size at every corpus scale
OUT = os.path.join(REPO, "DELTA_BENCH.json")


def main() -> None:
    from pyspark.sql import functions as F

    from hfcommunity_spark.operators import bucketed, placement
    from hfcommunity_spark.operators import dedup as dd
    from hfcommunity_spark.operators.graph import (
        components_delta,
        connected_components,
    )
    from hfcommunity_spark.session import get_spark

    spark = get_spark(app_name="hfcommunity-delta-bench")
    spark.sparkContext.setLogLevel("ERROR")

    def timed(fn, setup=None):
        # best-of-2, the bench.py estimator: a single run of a ~1-3 s
        # arm carries ±10-20% JVM/GC noise, which at a 10x growth
        # ratio reads as a spurious ±0.2 on the exponent.  Each call
        # re-executes the full lazy plan (the lambdas re-invoke the
        # operator), so the second run is a fair re-measurement.
        # ``setup`` runs UNTIMED before each rep — the in-place writer
        # arms mutate their table, so each rep starts from a pristine
        # copy.
        best = float("inf")
        for _ in range(2):
            if setup is not None:
                setup()
            t0 = time.monotonic()
            fn()
            best = min(best, time.monotonic() - t0)
        return round(best, 3)

    def edges_of(p):
        return p.filter(F.col("est_similarity") >= 0.5).select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )

    per_scale: dict[str, dict] = {}
    for label, path in SCALES:
        if not os.path.exists(path):
            print(f"skipping {label}: {path} missing "
                  "(run tools/scale_rehearsal.py --regen)",
                  file=sys.stderr)
            continue
        docs = spark.read.parquet(path).select("doc_id", "text")
        ids = [r.doc_id for r in
               docs.select("doc_id").orderBy("doc_id")
               .limit(DELIVERY_DOCS).collect()]
        delivery = docs.filter(F.col("doc_id").isin(ids)).localCheckpoint()
        corpus = docs.filter(~F.col("doc_id").isin(ids)).localCheckpoint()
        scale: dict[str, dict] = {"corpus_docs": corpus.count(),
                                  "delivery_docs": delivery.count()}

        # prebuilt corpus-side state (a deployment holds these as
        # materialized tables; building them is charged to neither arm)
        bands = dd._minhash_bands(
            dd.minhash_signatures(corpus), "xxhash64"
        ).localCheckpoint()
        pairs = dd.minhash_lsh_pairs_from_bands(bands).localCheckpoint()
        postings = dd.span_postings_frame(corpus).localCheckpoint()
        stats = dd.span_stats_from_postings(postings).localCheckpoint()
        assign = connected_components(edges_of(pairs)).localCheckpoint()

        scale["minhash_pairs"] = {
            "rebuild_s": timed(lambda: dd.minhash_lsh_pairs_from_bands(
                dd._minhash_bands(dd.minhash_signatures(docs), "xxhash64")
            ).count()),
            "delta_s": timed(lambda: [
                df.count()
                for df in dd.minhash_band_delta(bands, pairs, delivery)
            ]),
        }
        # span arms: both time span_fold_in_place, the maintained-table
        # writer, against private copies of the PERSISTED bucketed
        # postings and stats layouts (corpus-side state, uncharged like
        # bands/postings/assign above).  Per-rep setup re-copies the
        # pristine layouts (hardlinks, untimed) because the fold
        # MUTATES them; the rebuild arms re-tokenize the full corpus.
        # span_stats forces the distributed chain (the deployment
        # path: a partition-pruned probe keyed by the batch's hashes,
        # then delivery-bounded arithmetic, writing only the batch
        # postings and the changed stats rows); span_fold lets the
        # entry pick, which is the driver-local fold at these scales.
        # Bucket counts stay at the x17 convention (64/64): table-sized
        # bucket counts were measured here and LOST at this scale (300+
        # tiny file writes per local fold).
        span_dir = os.path.join(
            tempfile.gettempdir(), f"hfc_delta_bench_span_{label}"
        )
        dd.write_span_postings(postings, os.path.join(span_dir, "postings"))
        dd.write_span_stats(stats, os.path.join(span_dir, "stats"))
        fold_copy = contextlib.ExitStack()
        fold_work: dict = {"d": None}

        def _fold_setup():
            fold_copy.close()  # the previous rep's copy
            fold_work["d"] = fold_copy.enter_context(
                bucketed.working_copy(span_dir, ("postings", "stats"))
            )

        def _fold_delta():
            dd.span_fold_in_place(
                spark,
                os.path.join(fold_work["d"], "postings"),
                os.path.join(fold_work["d"], "stats"),
                delivery,
            )

        def _fold_delta_distributed():
            with placement.distributed():
                _fold_delta()

        def _fold_rebuild():
            w = tempfile.mkdtemp(prefix=f"hfc_db_foldrb_{label}_")
            try:
                p = dd.span_postings_frame(docs).localCheckpoint()
                dd.write_span_postings(p, os.path.join(w, "postings"))
                dd.write_span_stats(
                    dd.span_stats_from_postings(p),
                    os.path.join(w, "stats"),
                )
                p.unpersist()
            finally:
                shutil.rmtree(w, ignore_errors=True)

        scale["span_stats"] = {
            "rebuild_s": timed(lambda: dd.span_stats_frame(docs).count()),
            "delta_s": timed(_fold_delta_distributed, setup=_fold_setup),
        }
        scale["span_fold"] = {
            "rebuild_s": timed(_fold_rebuild),
            "delta_s": timed(_fold_delta, setup=_fold_setup),
        }
        fold_copy.close()

        # bm25 arm (round 8): index maintenance economics for the
        # retrieval member.  The rebuild arm re-tokenizes the corpus
        # into all three index artifacts; the delta arm tokenizes the
        # DELIVERY only and folds the 1-row stats (the base postings /
        # doclens are appended to, never re-read — so they are not
        # counted, mirroring the uncharged standing state above).
        from hfcommunity_spark.operators.retrieval import (
            _bm25_frames,
            bm25_index_delta,
        )

        base_tf, base_dl, base_st = (
            df.localCheckpoint() for df in _bm25_frames(corpus)
        )

        def _bm25_rebuild():
            for df in _bm25_frames(docs):
                df.count()

        def _bm25_delta():
            d_tf, d_dl, d_st = _bm25_frames(delivery)
            d_tf.count()
            d_dl.count()
            # the folded stats row is the only base-touching read —
            # a 1-row frame, the per-delivery cost a deployment pays
            bm25_index_delta(base_tf, base_dl, base_st, delivery)[2].count()

        scale["bm25_index"] = {
            "rebuild_s": timed(_bm25_rebuild),
            "delta_s": timed(_bm25_delta),
        }
        # both CC arms start from MATERIALIZED pair frames — timing the
        # lazy merged plan would charge the band-delta recomputation to
        # the rebuild arm (review finding); and the delta rows are by
        # construction exactly the pairs touching the delivery, so a
        # doc_id filter recovers them without a corpus-scale exceptAll
        merged_pairs = dd.minhash_band_delta(
            bands, pairs, delivery
        )[1].localCheckpoint()
        delta_edges = edges_of(
            merged_pairs.filter(
                F.col("doc_a").isin(ids) | F.col("doc_b").isin(ids)
            )
        ).localCheckpoint()
        scale["clusters"] = {
            "rebuild_s": timed(lambda: connected_components(
                edges_of(merged_pairs)
            ).count()),
            "delta_s": timed(
                lambda: components_delta(assign, delta_edges).count()
            ),
        }
        per_scale[label] = scale

    # --- cluster-history arm (round 8 #3): the cluster delta's payoff
    # is contingent on a LARGE edge history (the τ-pair sets at the
    # corpus scales above are so small that a rebuild is trivially
    # cheap — recorded honestly in the note since r6).  This arm
    # measures that regime with a synthetic but labeled history: H
    # chain edges (length-10 chains), a FIXED delivery of 20
    # chain-bridging merge edges, and a 10x history step.  The rebuild
    # arm re-runs CC over the whole history+delta; the delta arm runs
    # the PERSISTED-layout path a deployment runs — endpoint lookups
    # partition-pruned against the vertex-bucketed assignment and the
    # relabel applied against the component-bucketed projection, both
    # in place (fold_components_delivery).
    # Bucket COUNT scales with H (constant ASSIGN_ROWS_PER_BUCKET
    # bucket size), so per-delivery IO is bounded by
    # |delivery vertices| x bucket_size — the flatness claim only
    # materializes once H well exceeds that product, which is why the
    # arm's H values sit at 4e5/4e6 rather than the corpus scales.
    from hfcommunity_spark.operators.graph import (
        ASSIGN_ROWS_PER_BUCKET,
        fold_components_delivery,
        write_component_assign,
        write_vertex_assign,
    )

    cluster_history: dict[str, dict] = {}
    CHAIN = 10
    N_MERGES = 20
    for label, H in (("edges_4e5", 400_000), ("edges_4e6", 4_000_000)):
        hist = (
            spark.range(H)
            .filter(F.col("id") % CHAIN != CHAIN - 1)
            .select(F.col("id").alias("src"),
                    (F.col("id") + 1).alias("dst"))
            .localCheckpoint()
        )
        delta_e = (
            spark.range(N_MERGES)
            .select((F.col("id") * 2 * CHAIN + CHAIN - 1).alias("src"),
                    (F.col("id") * 2 * CHAIN + CHAIN).alias("dst"))
            .localCheckpoint()
        )
        assign = connected_components(hist).localCheckpoint()
        n_rows = assign.count()
        buckets = max(8, n_rows // ASSIGN_ROWS_PER_BUCKET)
        vdir = os.path.join(
            tempfile.gettempdir(), f"hfc_delta_bench_vassign_{label}"
        )
        cdir = os.path.join(
            tempfile.gettempdir(), f"hfc_delta_bench_cassign_{label}"
        )
        write_vertex_assign(assign, vdir, buckets)
        write_component_assign(assign, cdir, buckets)
        # register both layouts as CATALOG tables (the deployment
        # shape): partition pruning consults partition metadata, not
        # an O(buckets) directory walk per read.  Registration + MSCK
        # is table-build work, charged to neither arm (like every
        # standing index above).
        for tname, tdir, pcol in (
            (f"hfc_db_vassign_{label}", vdir, "v_bucket"),
            (f"hfc_db_cassign_{label}", cdir, "c_bucket"),
        ):
            spark.sql(f"DROP TABLE IF EXISTS {tname}")
            spark.sql(
                f"CREATE TABLE {tname} (vertex BIGINT, component "
                f"BIGINT) USING parquet PARTITIONED BY ({pcol} INT) "
                f"LOCATION '{tdir}'"
            )
            spark.sql(f"MSCK REPAIR TABLE {tname}")
        # pristine copies: the delta arm runs the REAL writers (the
        # table mutates), so each timed rep starts from the same state
        shutil.copytree(vdir, vdir + "_pristine", dirs_exist_ok=True)
        shutil.copytree(cdir, cdir + "_pristine", dirs_exist_ok=True)

        def _reset_tables():
            for d in (vdir, cdir):
                shutil.rmtree(d)
                shutil.copytree(d + "_pristine", d)
            for t in (f"hfc_db_vassign_{label}", f"hfc_db_cassign_{label}"):
                spark.catalog.refreshTable(t)
                # a timed rep may have ADD/DROP-ed partitions; re-sync
                # the metastore to the restored pristine directory tree
                # (setup work, charged to neither arm)
                spark.sql(f"MSCK REPAIR TABLE {t} "
                          f"SYNC PARTITIONS")

        def _delta_run():
            # the FULL per-delivery write path a deployment runs:
            # pruned endpoint resolution, both projections rewritten
            # in place (component buckets moved, vertex rows upserted)
            fold_components_delivery(
                spark, cdir, vdir, delta_e, buckets,
                ctable=f"hfc_db_cassign_{label}",
                vtable=f"hfc_db_vassign_{label}",
            )

        cluster_history[label] = {
            "history_edges": H,
            "delivery_edges": N_MERGES,
            "assign_buckets": buckets,
            "rebuild_s": timed(
                lambda: connected_components(
                    hist.unionByName(delta_e)
                ).count()
            ),
            "delta_s": timed(_delta_run, setup=_reset_tables),
        }
    a, b = cluster_history["edges_4e5"], cluster_history["edges_4e6"]
    cluster_history["growth_10x_history"] = {
        "rebuild_x": round(b["rebuild_s"] / a["rebuild_s"], 2),
        "delta_x": round(b["delta_s"] / a["delta_s"], 2),
    }

    # --- scd2-history arm (round 11): the merge family's 10x-history
    # step.  A FIXED delivery of events (the next 1k by event_id —
    # id order == time order in the synthetic feed, so the in-order
    # watermark contract holds by construction) folds into SCD2
    # dimensions built over 10x-different event histories.  With the
    # round-11 split fold, per-delivery work is bounded by
    # |affected keys| + |delivery| (closed history never enters the
    # fold plan); the rebuild arm re-runs the gaps-and-islands build
    # over history+delivery, which must track the history.
    from hfcommunity_spark.operators.mergeops import (
        scd2_delta_split,
        scd2_history,
    )

    scd2_hist: dict[str, dict] = {}
    ev = spark.read.parquet(
        "/root/testdata/sf0.1/events.parquet"
    ).select("user_id", "ts", "event_id", "event_type")
    N_DELIV_EV = 1_000
    for label, H in (("events_9e3", 9_000), ("events_9e4", 90_000)):
        prefix = ev.filter(F.col("event_id") < H).localCheckpoint()
        delivery = ev.filter(
            (F.col("event_id") >= H)
            & (F.col("event_id") < H + N_DELIV_EV)
        ).localCheckpoint()
        # the standing dimension's open rows are prebuilt state
        # (charged to neither arm, like every maintained table here)
        open_rows = scd2_history(
            prefix, key="user_id", state="event_type",
            ts="ts", tiebreak="event_id", with_last_ts=True,
        ).filter(F.col("valid_to").isNull()).localCheckpoint()
        scd2_hist[label] = {
            "history_events": H,
            "delivery_events": N_DELIV_EV,
            "open_rows": open_rows.count(),
            "rebuild_s": timed(lambda: scd2_history(
                prefix.unionByName(delivery), key="user_id",
                state="event_type", ts="ts", tiebreak="event_id",
            ).count()),
            "delta_s": timed(lambda: scd2_delta_split(
                open_rows, delivery, key="user_id",
                state="event_type", ts="ts", tiebreak="event_id",
            ).count()),
        }
    a, b = scd2_hist["events_9e3"], scd2_hist["events_9e4"]
    scd2_hist["growth_10x_history"] = {
        "rebuild_x": round(b["rebuild_s"] / a["rebuild_s"], 2),
        "delta_x": round(b["delta_s"] / a["delta_s"], 2),
    }

    growth = {}
    if "sf0.1" in per_scale and "sf1.0" in per_scale:
        for idx in ("minhash_pairs", "span_stats", "span_fold",
                    "clusters", "bm25_index"):
            a, b = per_scale["sf0.1"][idx], per_scale["sf1.0"][idx]
            growth[idx] = {
                "rebuild_x": round(b["rebuild_s"] / a["rebuild_s"], 2),
                "delta_x": round(b["delta_s"] / a["delta_s"], 2),
            }
    payload = {
        "delivery_docs_fixed": DELIVERY_DOCS,
        "scales": per_scale,
        "growth_10x_corpus": growth,
        "cluster_history": cluster_history,
        "scd2_history": scd2_hist,
        "note": ("fixed-size delivery, 10x corpus step: rebuild cost "
                 "tracks the corpus, delta cost must not — that gap is "
                 "the maintained family's reason to exist.  Measured "
                 "shape: minhash pairs show it cleanly (rebuild ~3x "
                 "vs delta ~0.9x), and since round 8 the span arm "
                 "does too: the delta runs the distributed fold "
                 "against a PERSISTED h-bucketed postings table — ONE "
                 "partition-pruned probe keyed by the batch's hashes, "
                 "then delivery-bounded arithmetic, materializing "
                 "only the batch partition + changed-stats rows (the "
                 "r6/r7 shape ran three corpus-wide scans and counted "
                 "the full merged frame, which made the span delta "
                 "track the corpus at 1.7x).  The cluster delta's "
                 "thresholded edge sets are so small at the corpus "
                 "scales that a rebuild is already trivial there; its "
                 "payoff regime - a LARGE edge history - is measured "
                 "directly by the cluster_history arm (round 8 #3): "
                 "against CATALOG-BACKED vertex-/component-bucketed "
                 "assignment tables (constant bucket size, partition "
                 "metadata pruning instead of an O(buckets) listing) "
                 "the delta is FLAT at a 10x history step (delta_x "
                 "~1.0) while the rebuild tracks the history (~5x). "
                 "The delta arm times the FULL per-delivery write "
                 "path (pruned endpoint resolution + both projections "
                 "rewritten in place via dynamic partition overwrite), "
                 "so its ~5s is fixed writer machinery: the rebuild "
                 "is still cheaper at 4e6 edges and crosses over "
                 "immediately beyond - one more 10x puts the rebuild "
                 "near 40s against the same flat ~5s.  "
                 "The bm25 arm "
                 "(round 8) shows the delta flat (~0.3x) while its "
                 "rebuild is still fixed-overhead-bound at these "
                 "corpus sizes (~0.9x at the 10x step: tokenizing "
                 "50k short docs is job-setup-dominated) — the arm "
                 "is kept because the delta tokenizes the DELIVERY "
                 "only and touches one 1-row stats frame of the "
                 "base, a shape whose payoff is structural, not "
                 "contingent on this scale point."
                 "  Round 12 adds the span_fold arm: the FULL in-place writer (span_fold_in_place, driver-local path) measured with per-rep pristine copies — delta 0.21->0.29 s across the 10x step vs rebuild 2.0->4.4 s (7-15x cheaper at both scales); its 1.4x delta ratio is the one-dataset-scan probe/upsert reading the whole (still tiny) layouts driver-side, an +87 ms absolute step — the partition-pruned delivery-bounded-IO regime belongs to the distributed writers, plan-asserted in tests/test_llmops.py."),
    }
    with open(OUT, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps(growth or per_scale))
    spark.stop()


if __name__ == "__main__":
    main()
