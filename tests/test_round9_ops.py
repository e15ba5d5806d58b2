"""Round-9 operator additions: the TPC-H distribution/waiting faces
(q13, q21) and the two streamed maintained-index faces — the catalog-
registered cluster-assignment lifecycle (x15) and the served IVF-ANN
stream (x16).

The oracle parity suite (tests/test_oracle_parity.py) locks each
declared face against DuckDB at the driver's comparison scale; these
tests lock what the oracles cannot see — operator semantics on
adversarial synthetic inputs (q21's sole-late-supplier edge cases,
q13's zero-order bucket), the fold bodies under REAL Structured
Streaming micro-batches, and delta-vs-rebuild parity on splits other
than the declared one."""

from __future__ import annotations

import pyspark.sql.functions as F

from hfcommunity_spark.operators import placement
from tests.conftest import SF_SMOKE


# --- q13: outer-join order-count histogram ----------------------------


def test_q13_zero_order_customers_counted(spark, tmp_path):
    """Customers with no (non-urgent) orders must land in the
    c_count = 0 bucket — the LEFT OUTER + COUNT(column) contract the
    inner-join formulation silently loses."""
    from hfcommunity_spark.operators.relational_ext2 import (
        q13_customer_order_distribution,
    )

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1,), (2,), (3,), (4,)], "c_custkey long"
    ).write.parquet(f"{sf}/customer.parquet")
    spark.createDataFrame(
        [
            (10, 1, "1-URGENT"),   # urgent: filtered, cust 1 has 0
            (11, 2, "3-MEDIUM"),
            (12, 2, "3-MEDIUM"),
            (13, 3, "5-LOW"),
        ],
        "o_orderkey long, o_custkey long, o_orderpriority string",
    ).write.parquet(f"{sf}/orders.parquet")
    got = {
        (r.c_count, r.custdist)
        for r in q13_customer_order_distribution(spark, sf).collect()
    }
    # custs 1 and 4 -> 0 orders; cust 3 -> 1; cust 2 -> 2
    assert got == {(0, 2), (1, 1), (2, 1)}


# --- q21: sole-late-supplier semantics --------------------------------


def test_q21_matches_correlated_exists_form(spark, tmp_path):
    """The per-order-aggregate rewrite must equal the textbook
    correlated EXISTS / NOT EXISTS formulation on a fixture covering
    every edge: single-supplier orders (excluded), two late suppliers
    (excluded), one late among many (counted), several late lineitems
    from the SAME supplier (each counted), non-'F' orders (excluded)."""
    from hfcommunity_spark.operators.relational_ext2 import (
        q21_suppliers_kept_waiting,
    )

    import datetime as dt

    def d(iso):
        return dt.date.fromisoformat(iso)

    sf = str(tmp_path)
    spark.createDataFrame(
        [(1, "S1"), (2, "S2"), (3, "S3")],
        "s_suppkey long, s_name string",
    ).write.parquet(f"{sf}/supplier.parquet")
    spark.createDataFrame(
        [
            (100, "F", d("2024-01-01")),  # multi-supp, S1 sole late
            (200, "F", d("2024-01-01")),  # single-supplier: excluded
            (300, "F", d("2024-01-01")),  # two late suppliers: excluded
            (400, "O", d("2024-01-01")),  # not finished: excluded
            (500, "F", d("2024-01-01")),  # S2 sole late among 3
        ],
        "o_orderkey long, o_orderstatus string, o_orderdate date",
    ).write.parquet(f"{sf}/orders.parquet")
    late, ok = d("2024-06-01"), d("2024-01-15")
    spark.createDataFrame(
        [
            (100, 1, late), (100, 1, late), (100, 2, ok),
            (200, 1, late),
            (300, 1, late), (300, 2, late),
            (400, 1, late), (400, 2, ok),
            (500, 2, late), (500, 1, ok), (500, 3, ok),
        ],
        "l_orderkey long, l_suppkey long, l_shipdate date",
    ).write.parquet(f"{sf}/lineitem.parquet")
    got = {
        (r.s_name, r.numwait)
        for r in q21_suppliers_kept_waiting(spark, sf).collect()
    }
    assert got == {("S1", 2), ("S2", 1)}


# --- x16: maintained ANN under a stream of deliveries ------------------


def test_x16_fold_body_under_real_micro_batches(spark, tmp_path):
    """The x16 fold body under a REAL foreachBatch: embedding
    deliveries land as parquet files, each micro-batch appends to the
    standing lists against the frozen codebook, and the final folded
    lists must equal the one-shot assignment of the whole frame."""
    from pyspark.sql import types as T

    from hfcommunity_spark.io import read_table
    from hfcommunity_spark.operators.kmeans import assign_cells
    from hfcommunity_spark.operators.similarity import (
        _centroid_rows,
        ivf_index_delta,
    )

    emb = read_table(spark, SF_SMOKE, "embeddings").select(
        "vec_id", "embedding"
    )
    cent = {
        r.cell: list(map(float, r.centroid))
        for r in _centroid_rows(
            read_table(spark, SF_SMOKE, "embeddings")
        ).collect()
    }
    centroids = [cent[k] for k in sorted(cent)]
    base = emb.filter(F.col("vec_id") % 4 != 0)
    deliveries = [
        emb.filter(
            (F.col("vec_id") % 4 == 0) & (F.col("vec_id") % 3 == k)
        )
        for k in range(3)
    ]
    state = [
        assign_cells(base, centroids)
        .select("vec_id", "cell", "embedding").localCheckpoint()
    ]

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField(
            "embedding", T.ArrayType(T.FloatType())
        ),
    ])
    src = str(tmp_path / "emb_deliveries")

    def fold_batch(batch_df, batch_id):
        state[0] = ivf_index_delta(
            state[0], batch_df, centroids
        ).localCheckpoint()

    for d in deliveries:
        d.coalesce(1).write.mode("append").parquet(src)
        q = (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.foreachBatch(fold_batch)
            .option("checkpointLocation", f"{tmp_path}/ckpt_x16")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    folded = {
        (r.vec_id, r.cell)
        for r in state[0].select("vec_id", "cell").collect()
    }
    oneshot = {
        (r.vec_id, r.cell)
        for r in assign_cells(emb, centroids)
        .select("vec_id", "cell").collect()
    }
    assert folded == oneshot and len(oneshot) > 0


def test_x16_serves_every_prefix(spark):
    """Each delivery's served top-k must equal serving the one-shot
    frozen-codebook index of that PREFIX corpus (counts, probe set and
    ranking all recomputed from scratch per prefix)."""
    import numpy as np

    from hfcommunity_spark.io import read_table
    from hfcommunity_spark.operators.kmeans import (
        _pairwise_sq_dists,
        assign_cells,
    )
    from hfcommunity_spark.operators.similarity import (
        _IVF_DELTA_MOD,
        IVF_MIN_CAND,
        X16_DELIVERIES,
        _cosine_to_query_udf,
        _ivf_base_codebook,
        _ivf_emb_split,
        _query_vector,
        _rank_topk,
        x16_stream_maintained_ann,
    )

    got = {
        (r.delivery_id, r.vec_id, r.rank, r.sim_rounded)
        for r in x16_stream_maintained_ann(spark, SF_SMOKE).collect()
    }
    emb = read_table(spark, SF_SMOKE, "embeddings")
    centroids = _ivf_base_codebook(spark, SF_SMOKE, emb)
    q = _query_vector(emb, cache_key=SF_SMOKE)
    d2 = _pairwise_sq_dists(
        q[None, :].astype(np.float64), np.asarray(centroids, np.float64)
    )[0]
    order = sorted(range(len(centroids)), key=lambda i: (d2[i], i))
    base, arriving = _ivf_emb_split(emb)
    prefix = base
    want = set()
    for k in range(X16_DELIVERIES):
        prefix = prefix.unionByName(
            arriving.filter(
                F.expr(
                    f"(vec_id DIV {_IVF_DELTA_MOD}) % {X16_DELIVERIES}"
                ) == k
            )
        )
        lists = assign_cells(prefix, centroids).select(
            "vec_id", "cell", "embedding"
        ).localCheckpoint()
        counts = {
            r.cell: r.cnt
            for r in lists.filter(F.col("vec_id") != 0)
            .groupBy("cell").agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
        probe, cum = [], 0
        for cell in order:
            if cum >= IVF_MIN_CAND:
                break
            probe.append(cell)
            cum += counts.get(cell, 0)
        cand = lists.filter(
            F.col("cell").isin(probe) & (F.col("vec_id") != 0)
        ).select(
            "vec_id",
            _cosine_to_query_udf(q)(F.col("embedding")).alias("sim"),
        )
        for r in _rank_topk(cand, with_sim=True).collect():
            want.add((k, r.vec_id, r.rank, r.sim_rounded))
    assert got == want


# --- a16: exact percentiles via the value histogram ---------------------


def test_a16_matches_bruteforce_on_edges(spark, tmp_path):
    """Synthetic edges: a one-row segment, an all-ties segment, and
    negative balances must all return the exact ceil-rank element."""
    import math

    from hfcommunity_spark.operators.relational_ext2 import (
        A16_PCTS,
        a16_exact_percentiles,
    )

    data = {
        "SOLO": [7.77],
        "TIES": [5.0] * 9,
        "NEG": [-994.28, -1.01, 0.0, 3.5, 3.5, 1000.99, 2.25],
    }
    rows = [(seg, v) for seg, vs in data.items() for v in vs]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "c_mktsegment string, c_acctbal double"
    ).write.parquet(f"{sf}/customer.parquet")
    got = {
        (r.c_mktsegment, r.pct, r.pct_value)
        for r in a16_exact_percentiles(spark, sf).collect()
    }
    want = set()
    for seg, vs in data.items():
        vs = sorted(vs)
        for p in A16_PCTS:
            rk = (len(vs) * p + 99) // 100
            want.add((seg, p, vs[rk - 1]))
    assert got == want


def test_a16_second_pass_window_is_cell_bounded(spark):
    """The plan's only window partitions by (segment, cell, pct) —
    never segment-wide — so per-task sort work is bounded by the cell,
    not the segment (the w1 discipline; a segment-wide row_number is
    exactly the single-segment-sort this operator exists to avoid)."""
    from hfcommunity_spark.queries import all_queries

    df = all_queries()["a16_exact_percentiles"].spark(
        spark, "/root/testdata/sf0.01"
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    import re

    for m in re.finditer(r"Window.*?partition.*?\n", plan):
        seg = m.group(0)
        assert "bkt" in seg or "pct" in seg, seg


# --- x17: the span-audit table under a stream of deliveries ------------


def test_x17_serves_every_prefix(spark):
    """Each delivery's served span stats must equal the from-scratch
    build over that PREFIX corpus (Spark-side rebuild, independent of
    the DuckDB oracle) — including base docs whose spans BECOME
    duplicated because a delivery re-used them."""
    from hfcommunity_spark.operators.dedup import (
        DELTA_DELIVERIES as X17_DELIVERIES,
        _DELTA_SPLIT_MOD,
        _delta_arriving_docs,
        _delta_base_docs,
        span_stats_frame,
        x17_stream_maintained_spans,
    )

    got = {
        (r.delivery_id, r.doc_id, r.n_spans, r.n_dup_spans)
        for r in x17_stream_maintained_spans(spark, SF_SMOKE).collect()
    }
    base = _delta_base_docs(spark, SF_SMOKE)
    arriving = _delta_arriving_docs(spark, SF_SMOKE)
    prefix = base
    want = set()
    for k in range(X17_DELIVERIES):
        prefix = prefix.unionByName(
            arriving.filter(
                F.expr(
                    f"(doc_id DIV {_DELTA_SPLIT_MOD}) % {X17_DELIVERIES}"
                ) == k
            )
        )
        for r in span_stats_frame(prefix).collect():
            want.add((k, r.doc_id, r.n_spans, r.n_dup_spans))
    assert got == want and len(got) > 0


def test_x17_frees_fold_checkpoints(spark):
    """The fold chain's eager checkpoints are freed once the served
    union is materialized — repeated invocations may pin only their
    own returned frame (the components_delta discipline)."""
    from hfcommunity_spark.operators.dedup import (
        x17_stream_maintained_spans,
    )

    def n_persistent() -> int:
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    x17_stream_maintained_spans(spark, SF_SMOKE).count()
    first = n_persistent()
    x17_stream_maintained_spans(spark, SF_SMOKE).count()
    second = n_persistent()
    # each invocation may keep its returned checkpoint (and the
    # session-cached standing state from the first call); the six
    # per-fold intermediates must not accumulate on top
    assert second - first <= 3


# --- x20: the media feature table under a stream of deliveries ---------


def test_x20_serves_every_prefix(spark):
    """Each delivery's served feature table equals running the
    extractor over that PREFIX's media from scratch (Spark-side,
    independent of the DuckDB oracle)."""
    from hfcommunity_spark.operators.dedup import _DELTA_SPLIT_MOD
    from hfcommunity_spark.operators.multimodal import (
        FEATURE_SCHEMA,
        X20_DELIVERIES,
        byte_features_batches,
        media_from_documents,
        x20_stream_media_features,
    )

    got = {
        tuple(r)
        for r in x20_stream_media_features(spark, SF_SMOKE).collect()
    }
    media = media_from_documents(spark, SF_SMOKE).filter(
        F.col("payload").isNotNull() & (F.length("payload") > 0)
    )
    want = set()
    for k in range(X20_DELIVERIES):
        prefix = media.filter(
            (F.col("media_id") % _DELTA_SPLIT_MOD != 0)
            | (
                F.expr(
                    f"(media_id DIV {_DELTA_SPLIT_MOD}) "
                    f"% {X20_DELIVERIES}"
                ) <= k
            )
        )
        for r in prefix.select("media_id", "payload").mapInPandas(
            byte_features_batches, schema=FEATURE_SCHEMA
        ).collect():
            want.add((k, *tuple(r)))
    assert got == want and len(got) > 0


# --- x19: the SCD2 dimension under a stream of deliveries --------------


def test_events_ids_are_time_ordered(spark):
    """The x19 cut construction (id quartiles == time quartiles) leans
    on the synthetic feed assigning event ids in event-time order —
    lock it so regenerated testdata cannot silently break the
    in-order-delivery contract."""
    from pyspark.sql import Window as W

    from hfcommunity_spark.io import read_table

    for sf in (SF_SMOKE, "/root/testdata/sf0.01"):
        ev = read_table(spark, sf, "events").select("event_id", "ts")
        w = W.orderBy("event_id")
        inversions = (
            ev.withColumn("pts", F.lag("ts").over(w))
            .filter(F.col("pts") > F.col("ts"))
            .count()
        )
        assert inversions == 0, sf


def test_scd2_delta_equals_rebuild_any_split(spark):
    """Folding ANY in-order split of the event feed through
    scd2_delta must equal the one-shot scd2_history over the union —
    five uneven sequential slices, not just the declared quartiles."""
    from hfcommunity_spark.io import read_table
    from hfcommunity_spark.operators.mergeops import (
        scd2_delta,
        scd2_history,
    )

    ev = read_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    n = ev.agg((F.max("event_id") + 1).alias("n")).collect()[0].n
    cuts = [0, n // 10, n // 3, n // 2, (3 * n) // 4, n]
    slices = [
        ev.filter(
            (F.col("event_id") >= cuts[i])
            & (F.col("event_id") < cuts[i + 1])
        )
        for i in range(len(cuts) - 1)
    ]
    dim = scd2_history(slices[0], key="user_id", state="event_type",
                       ts="ts", tiebreak="event_id")
    for s in slices[1:]:
        dim = scd2_delta(dim, s, key="user_id", state="event_type",
                         ts="ts", tiebreak="event_id").localCheckpoint()
    got = {tuple(r) for r in dim.collect()}
    want = {
        tuple(r)
        for r in scd2_history(
            ev, key="user_id", state="event_type",
            ts="ts", tiebreak="event_id",
        ).collect()
    }
    assert got == want and len(want) > 0


def test_scd2_split_lifecycle_equals_rebuild_every_prefix(spark):
    """The SPLIT lifecycle: maintain open rows
    plus append-only closed pieces through scd2_delta_split, with the
    tracked fold watermark, and assert open ∪ pieces equals the
    one-shot scd2_history AT EVERY PREFIX — including that rows closed
    by earlier folds are never touched again (piece snapshots taken at
    close time must still be exact at the end)."""
    from hfcommunity_spark.io import read_table
    from hfcommunity_spark.operators.mergeops import (
        scd2_delta_split,
        scd2_history,
    )

    kw = dict(key="user_id", state="event_type",
              ts="ts", tiebreak="event_id")
    ev = read_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    n = ev.agg((F.max("event_id") + 1).alias("n")).collect()[0].n
    cuts = [0, n // 7, n // 3, (2 * n) // 3, n]
    slices = [
        ev.filter(
            (F.col("event_id") >= cuts[i])
            & (F.col("event_id") < cuts[i + 1])
        )
        for i in range(len(cuts) - 1)
    ]
    base = scd2_history(slices[0], with_last_ts=True, **kw
                        ).localCheckpoint()
    open_rows = base.filter(F.col("valid_to").isNull())
    pieces = [
        base.filter(F.col("valid_to").isNotNull())
        .select("user_id", "state", "valid_from", "valid_to")
        .collect()
    ]
    for i, s in enumerate(slices[1:], start=1):
        folded = scd2_delta_split(open_rows, s, **kw).localCheckpoint()
        open_rows = folded.filter(F.col("valid_to").isNull())
        # snapshot the newly-closed piece EAGERLY (collect) so a later
        # fold mutating anything it shouldn't would be caught
        pieces.append(
            folded.filter(F.col("valid_to").isNotNull())
            .select("user_id", "state", "valid_from", "valid_to")
            .collect()
        )
        got = {tuple(r) for rows in pieces for r in rows} | {
            (r.user_id, r.state, r.valid_from, r.valid_to)
            for r in open_rows.collect()
        }
        prefix = ev.filter(F.col("event_id") < cuts[i + 1])
        want = {tuple(r) for r in scd2_history(prefix, **kw).collect()}
        assert got == want and len(want) > 0, f"prefix {i} diverged"
    # the watermark column is maintained: every open row carries a
    # non-null _last_event_ts ≥ its valid_from
    bad = open_rows.filter(
        F.col("_last_event_ts").isNull()
        | (F.col("_last_event_ts") < F.col("valid_from"))
    ).count()
    assert bad == 0


def test_scd2_delta_edge_cases(spark):
    """Synthetic edges: same-state delivery events absorb into the
    open run (no new row); a same-timestamp state change closes the
    run at that timestamp; fresh keys start their own timeline."""
    import datetime as dt

    from hfcommunity_spark.operators.mergeops import (
        scd2_delta,
        scd2_history,
    )

    t = lambda m: dt.datetime(2024, 1, 1) + dt.timedelta(minutes=m)
    cols = "user_id long, ts timestamp_ntz, event_id long, event_type string"
    base = spark.createDataFrame(
        [(1, t(0), 0, "a"), (1, t(10), 1, "b"), (2, t(5), 2, "a")], cols
    )
    delivery = spark.createDataFrame(
        [
            (1, t(10), 3, "b"),   # same ts+state as open run: absorbed
            (1, t(20), 4, "c"),   # closes run b at t+20
            (3, t(15), 5, "a"),   # fresh key
        ],
        cols,
    )
    dim = scd2_history(base, key="user_id", state="event_type",
                       ts="ts", tiebreak="event_id")
    folded = scd2_delta(dim, delivery, key="user_id",
                        state="event_type", ts="ts",
                        tiebreak="event_id")
    got = {tuple(r) for r in folded.collect()}
    want = {
        tuple(r)
        for r in scd2_history(
            base.unionByName(delivery), key="user_id",
            state="event_type", ts="ts", tiebreak="event_id",
        ).collect()
    }
    assert got == want
    assert (1, "b", t(10), t(20)) in got  # absorbed, then closed
    assert (3, "a", t(15), None) in got   # fresh key's open run


def test_x19_serves_every_prefix(spark):
    """Each delivery's served dimension equals the one-shot
    scd2_history over that prefix (Spark-side, independent of the
    DuckDB oracle)."""
    from hfcommunity_spark.io import read_table
    from hfcommunity_spark.operators.mergeops import (
        X19_DELIVERIES,
        scd2_history,
        x19_stream_scd2_dim,
    )

    got = {
        tuple(r)
        for r in x19_stream_scd2_dim(spark, SF_SMOKE).collect()
    }
    ev = read_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    n = ev.agg((F.max("event_id") + 1).alias("n")).collect()[0].n
    want = set()
    for k in range(X19_DELIVERIES):
        prefix = ev.filter(F.col("event_id") * 4 < n * (k + 2))
        for r in scd2_history(prefix, key="user_id",
                              state="event_type", ts="ts",
                              tiebreak="event_id").collect():
            want.add((k, *tuple(r)))
    assert got == want and len(got) > 0


# --- x15: the catalog-registered maintained assignment -----------------


def test_x15_frees_invocation_checkpoints(spark):
    """Repeated x15 invocations may pin only their own returned frame
    — the fold plans, change sets and per-fold serving snapshots are
    freed once the final union materializes (the x17 discipline)."""
    from hfcommunity_spark.operators.dedup import (
        x15_stream_maintained_clusters,
    )

    def n_persistent() -> int:
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    x15_stream_maintained_clusters(spark, SF_SMOKE).count()
    first = n_persistent()
    x15_stream_maintained_clusters(spark, SF_SMOKE).count()
    second = n_persistent()
    assert second - first <= 3


def test_x15_local_serve_matches_catalog_serve(spark, monkeypatch):
    """Round-13 serve surgery: each delivery's serve is a driver-local
    pyarrow read of the bucket layout (the x17 probe applied to the
    serve side); with SERVE_LOCAL_ROW_MAX pinned to 0 every serve
    is a hardlink snapshot + lazy distributed read (r15 — the x17
    snapshot-serve pattern; before r15, a catalog read + eager
    checkpoint).  The two must be value-identical — disk state and
    catalog state are the same table when the partition-sync
    discipline holds, and this locks it."""
    import hfcommunity_spark.operators.dedup as dd

    local = sorted(
        tuple(r) for r in
        dd.x15_stream_maintained_clusters(spark, SF_SMOKE).collect()
    )
    assert local, "x15 served no rows"
    with monkeypatch.context() as mp:
        mp.setitem(placement.CAPS, "SERVE_LOCAL_ROW_MAX", 0)
        dist = sorted(
            tuple(r) for r in
            dd.x15_stream_maintained_clusters(spark, SF_SMOKE).collect()
        )
    assert local == dist


def test_x15_serves_every_prefix_and_syncs_catalog(spark):
    """Each delivery's served assignment must equal the one-shot CC
    over that PREFIX corpus's τ-pairs — recomputed Spark-side from
    scratch, independent of the DuckDB oracle.  This drives the FULL
    catalog lifecycle (pruned reads, in-place writers, ALTER TABLE
    partition sync) at smoke scale; a missed ADD PARTITION would make
    delivery k+1 re-treat delivery k's fresh vertices as unseen and
    diverge."""
    from hfcommunity_spark.operators.dedup import (
        JACCARD_CLUSTER_THRESHOLD,
        DELTA_DELIVERIES as X15_DELIVERIES,
        _DELTA_SPLIT_MOD,
        _delta_base_docs,
        _delta_arriving_docs,
        doc_shingle_hashes,
        x15_stream_maintained_clusters,
    )
    from hfcommunity_spark.operators.graph import connected_components

    got = {
        (r.delivery_id, r.doc_id, r.component)
        for r in x15_stream_maintained_clusters(spark, SF_SMOKE).collect()
    }

    def tau_edges(docs):
        sh = doc_shingle_hashes(docs).localCheckpoint()
        counts = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        pairs = (
            sh.alias("a").join(sh.alias("b"), F.col("a.h") == F.col("b.h"))
            .filter(F.col("a.doc_id") < F.col("b.doc_id"))
            .groupBy(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        jac = (
            pairs.join(
                counts.select(
                    F.col("doc_id").alias("doc_a"), F.col("n").alias("na")
                ), "doc_a",
            )
            .join(
                counts.select(
                    F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")
                ), "doc_b",
            )
            .filter(
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared"))
                >= JACCARD_CLUSTER_THRESHOLD
            )
        )
        return jac.select(
            F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
        )

    base = _delta_base_docs(spark, SF_SMOKE)
    arriving = _delta_arriving_docs(spark, SF_SMOKE)
    prefix = base
    want = set()
    for k in range(X15_DELIVERIES):
        prefix = prefix.unionByName(
            arriving.filter(
                F.expr(
                    f"(doc_id DIV {_DELTA_SPLIT_MOD}) % {X15_DELIVERIES}"
                ) == k
            )
        )
        for r in connected_components(tau_edges(prefix)).collect():
            want.add((k, r.vertex, r.component))
    assert got == want and len(got) > 0


def test_a16_wide_domain_hits_histogram_cap(spark, tmp_path,
                                            monkeypatch):
    """The pass-1 histogram collect is bounded by the VALUE DOMAIN,
    not the row count — a pathologically wide/fine balance domain must
    fail loudly at the cap (limit-guarded, so the oversized histogram
    never reaches the driver) instead of silently growing the collect
    (ADVICE r9)."""
    import pytest

    from hfcommunity_spark.operators import relational_ext2 as R

    # 40 distinct whole-dollar cells in one segment
    rows = [("WIDE", float(i) * 1000.0) for i in range(40)]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "c_mktsegment string, c_acctbal double"
    ).write.parquet(f"{sf}/customer.parquet")
    monkeypatch.setattr(R, "A16_HIST_CELL_MAX", 10)
    with pytest.raises(ValueError, match="histogram exceeds 10"):
        R.a16_exact_percentiles(spark, sf)
    # under the cap the same data passes through the guard
    monkeypatch.setattr(R, "A16_HIST_CELL_MAX", 40)
    assert R.a16_exact_percentiles(spark, sf).count() == len(R.A16_PCTS)


def test_scd2_delta_out_of_order_delivery_fails_loudly(spark):
    """An event timestamped BEFORE its key's open-row valid_from
    violates the in-order (watermark) contract; it used to silently
    corrupt closed history (the seed pseudo-event no longer sorts
    first) — the fold plan must raise instead (ADVICE r9).  In-order
    same-timestamp deliveries still pass the guard."""
    import datetime as dt

    import pytest

    from hfcommunity_spark.operators.mergeops import (
        scd2_delta,
        scd2_history,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    base = spark.createDataFrame(
        [(1, t(10), 100, "a"), (1, t(20), 101, "b")],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    dim = scd2_history(base, key="user_id", state="event_type",
                       ts="ts", tiebreak="event_id").localCheckpoint()
    late = spark.createDataFrame(
        [(1, t(15), 102, "c")],  # between the closed run and the open one
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    with pytest.raises(Exception, match="in-order"):
        scd2_delta(dim, late, key="user_id", state="event_type",
                   ts="ts", tiebreak="event_id").collect()
    ok = spark.createDataFrame(
        [(1, t(20), 103, "c")],  # same-ts as open valid_from: allowed
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    got = scd2_delta(dim, ok, key="user_id", state="event_type",
                     ts="ts", tiebreak="event_id").collect()
    assert len(got) == 3  # a-run closed, b-run closed at t20, c open


def test_scd2_tracked_dim_catches_absorbed_event_violation(spark):
    """The round-10 review's blind spot: an open run starts at t10,
    absorbs a same-state event at t20 (valid_from stays t10), then a
    delivery brings a state change at t15.  The valid_from-only guard
    passes (t15 >= t10) and silently diverges from the rebuild; the
    TRACKED dimension (_last_event_ts via scd2_track_seed) knows the
    last folded event was t20 and raises."""
    import datetime as dt

    import pytest

    from hfcommunity_spark.operators.mergeops import (
        scd2_delta,
        scd2_history,
        scd2_track_seed,
    )

    t = lambda m: dt.datetime(2024, 1, 1, 0, m)  # noqa: E731
    base = spark.createDataFrame(
        [(1, t(10), 100, "a"), (1, t(20), 101, "a")],  # absorbed run
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    kw = dict(key="user_id", state="event_type", ts="ts",
              tiebreak="event_id")
    dim = scd2_track_seed(
        scd2_history(base, **kw), base, key="user_id", ts="ts"
    ).localCheckpoint()
    late = spark.createDataFrame(
        [(1, t(15), 102, "b")],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    with pytest.raises(Exception, match="in-order"):
        scd2_delta(dim, late, **kw).collect()
    # an in-order delivery folds fine and MAINTAINS the watermark:
    # a second fold violating against the FIRST delivery's max also
    # raises (the column is carried across folds, not just seeded)
    ok = spark.createDataFrame(
        [(1, t(30), 103, "b")],
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    dim2 = scd2_delta(dim, ok, **kw).localCheckpoint()
    got = {
        (r.user_id, r.state, r.valid_from, r.valid_to)
        for r in dim2.drop("_last_event_ts").collect()
    }
    want = {
        (r.user_id, r.state, r.valid_from, r.valid_to)
        for r in scd2_history(base.unionByName(ok), **kw).collect()
    }
    assert got == want
    late2 = spark.createDataFrame(
        [(1, t(25), 104, "c")],  # before the folded t30 event
        "user_id long, ts timestamp, event_id long, event_type string",
    )
    with pytest.raises(Exception, match="in-order"):
        scd2_delta(dim2, late2, **kw).collect()
