"""Commit-DAG traversal: BFS ancestry with minimal hop counts over a
diamond-merge history, and merge-commit detection."""

from __future__ import annotations

import contextlib

from hypothesis import given, settings
from hypothesis import strategies as st

from hfcommunity_spark.operators import placement
from hfcommunity_spark.operators.graph import ancestors, merge_commits

#        a
#       / \
#      b   c
#       \ /
#        d  (merge)
#        |
#        e
EDGES = [
    ("b", "a"), ("c", "a"),
    ("d", "b"), ("d", "c"),
    ("e", "d"),
]


def _edges(spark):
    return spark.createDataFrame(EDGES, ["commit_sha", "parent_sha"])


def test_ancestors_minimal_hops_through_diamond(spark):
    starts = spark.createDataFrame([("e",)], ["sha"])
    out = {(r.ancestor_sha): r.hops
           for r in ancestors(_edges(spark), starts).collect()}
    # a is reachable via b and via c — one row, minimal hops = 3
    assert out == {"d": 1, "b": 2, "c": 2, "a": 3}


def test_ancestors_respects_max_hops(spark):
    starts = spark.createDataFrame([("e",)], ["sha"])
    out = {r.ancestor_sha for r in
           ancestors(_edges(spark), starts, max_hops=2).collect()}
    assert out == {"d", "b", "c"}


def test_ancestors_deep_chain_no_lineage_blowup(spark):
    """The commit-DAG analog of the diameter-32 pathology the CC loops
    document (VERDICT r4): a depth-64 linear history must complete —
    before the per-hop eager localCheckpoint the BFS loop's plan grew
    geometrically (seen referenced twice per hop) and analysis OOM'd
    long before any data moved."""
    depth = 64
    chain = spark.createDataFrame(
        [(f"c{i}", f"c{i + 1}") for i in range(depth)],
        ["commit_sha", "parent_sha"],
    )
    starts = spark.createDataFrame([("c0",)], ["sha"])
    out = {r.ancestor_sha: r.hops
           for r in ancestors(chain, starts, max_hops=depth).collect()}
    assert out == {f"c{i}": i for i in range(1, depth + 1)}


def test_ancestors_frees_empty_frontier_storage(spark):
    """The walk's only superseded checkpoint (the empty final frontier)
    is freed; what stays persisted is bounded by the hop count (one
    leaf per hop), not growing monotonically across calls."""
    starts = spark.createDataFrame([("e",)], ["sha"])

    def n_persistent() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    ancestors(_edges(spark), starts).collect()
    first = n_persistent()
    ancestors(_edges(spark), starts).collect()
    second = n_persistent()
    # a second identical walk may not leak beyond its own leaves
    assert second <= 2 * first


def test_component_merge_plan_frees_delivery_checkpoint(spark):
    """Folding a stream of deliveries through component_merge_plan may
    pin only what it RETURNS (fresh + relabel) — the internal delivery
    edge checkpoint must be freed before returning, as the pruned
    variant does (round-8 review finding: per-delivery callers were
    accumulating the edge blocks for the session)."""
    from hfcommunity_spark.operators.graph import (
        component_merge_plan,
        connected_components,
    )

    hist = _chain_edges(spark, 100)
    assign = connected_components(hist).localCheckpoint()

    def n_persistent() -> int:
        import gc

        gc.collect()
        spark.sparkContext._jvm.System.gc()
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    deltas = []
    base = n_persistent()
    for i in range(3):
        delta = spark.createDataFrame(
            [(9 + 10 * i, 10 + 10 * i)], "src long, dst long"
        )
        fresh, relabel = component_merge_plan(assign, delta)
        fresh.count()
        now = n_persistent()
        deltas.append(now - base)
        base = now
    # each call may add its returned frames (fresh checkpoint, and a
    # relabel checkpoint on the distributed path) but NOT the internal
    # delivery-edge / quotient blocks on top — ≤2 new pins per call
    assert all(d <= 2 for d in deltas), deltas


def test_merge_commit_detection(spark):
    out = {r.sha: r.n_parents for r in merge_commits(_edges(spark)).collect()}
    assert out == {"d": 2}


def test_connected_components_chain_and_island(spark):
    from hfcommunity_spark.operators.graph import connected_components

    # chain 1-2-3-4 (diameter 3), island 10-11, self-contained pair 7-8
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (7, 8)], ["src", "dst"]
    )
    got = {r.vertex: r.component
           for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 7: 7, 8: 7}


def test_connected_components_converges_on_cycle(spark):
    from hfcommunity_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(5, 6), (6, 9), (9, 5)], ["src", "dst"]  # triangle
    )
    got = {r.vertex: r.component
           for r in connected_components(edges).collect()}
    assert got == {5: 5, 6: 5, 9: 5}


def test_star_components_beats_min_label_rounds_on_path(spark):
    """The large/small-star contraction must converge in O(log n)
    rounds where min-label propagation needs O(diameter) — the
    documented 100 TB swap-in, now the default."""
    from hfcommunity_spark.operators.graph import (
        _min_label_components,
        _star_components,
    )

    n = 33  # path 0-1-...-32, diameter 32
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["src", "dst"]
    )
    star_labels, star_rounds, star_ok = _star_components(
        edges, "src", "dst", 25
    )
    ml_labels, ml_rounds, ml_ok = _min_label_components(
        edges, "src", "dst", 25
    )
    assert star_ok and ml_ok
    want = {i: 0 for i in range(n)}
    assert {r.vertex: r.component for r in star_labels.collect()} == want
    assert {r.vertex: r.component for r in ml_labels.collect()} == want
    # min-label pays ~diameter propagation rounds; star contraction is
    # logarithmic — strictly fewer, with real headroom
    assert star_rounds < ml_rounds / 2, (star_rounds, ml_rounds)


def test_star_components_random_graph_matches_min_label(spark):
    """Property check on a fixed pseudo-random graph: both algorithms
    agree exactly."""
    from hfcommunity_spark.operators.graph import (
        connected_components,
        min_label_components,
    )

    # deterministic LCG edges over 60 vertices, sparse enough to leave
    # several components
    seed, pairs = 1234567, []
    for _ in range(45):
        seed = (seed * 1103515245 + 12345) % (1 << 31)
        a = seed % 60
        seed = (seed * 1103515245 + 12345) % (1 << 31)
        b = seed % 60
        if a != b:
            pairs.append((a, b))
    edges = spark.createDataFrame(pairs, ["src", "dst"])
    star = {r.vertex: r.component
            for r in connected_components(edges).collect()}
    ml = {r.vertex: r.component
          for r in min_label_components(edges).collect()}
    assert star == ml and len(star) > 0


def test_connected_components_raises_on_non_convergence(spark):
    """ADVICE r2: exhausting max_iters must raise, never silently
    return wrong labels."""
    import pytest

    from hfcommunity_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["src", "dst"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        # local_edge_limit=0 forces the star path (the adaptive
        # union-find would label 40 edges in one pass)
        connected_components(edges, max_iters=2, local_edge_limit=0)


def test_local_union_find_matches_star_path(spark):
    """The adaptive single-task union-find and the star path must
    produce identical labels on random graphs, and the default limit
    routes small edge sets to the local path."""
    import random

    from hfcommunity_spark.operators.graph import connected_components

    rng = random.Random(77)
    edges = [
        (rng.randrange(120), rng.randrange(120)) for _ in range(150)
    ] + [(200, 201)]  # plus an isolated 2-cycle-free island
    df = spark.createDataFrame(edges, ["src", "dst"])
    local = {
        (r.vertex, r.component)
        for r in connected_components(df).collect()
    }
    star = {
        (r.vertex, r.component)
        for r in connected_components(df, local_edge_limit=0).collect()
    }
    assert local == star and local


def test_local_union_find_empty_edges(spark):
    from hfcommunity_spark.operators.graph import connected_components

    empty = spark.createDataFrame([], "src long, dst long")
    out = connected_components(empty)
    assert out.columns == ["vertex", "component"]
    assert out.count() == 0


_IDS = st.one_of(
    st.integers(-4, 4),
    st.sampled_from([-(2**63), -(2**63) + 1, 2**63 - 2, 2**63 - 1]),
)


@settings(max_examples=200, deadline=None)
@given(st.lists(st.tuples(_IDS, _IDS), max_size=24), st.data())
def test_min_labels_equals_bfs_closure(edges, data):
    """_min_labels labels every endpoint with the minimum id of its
    BFS closure, for any int64 ids (negatives and the extremes
    included), self-loops and duplicate edges."""
    import numpy as np

    from hfcommunity_spark.operators.graph import _min_labels

    edges = edges + data.draw(
        st.lists(st.sampled_from(edges), max_size=6) if edges
        else st.just([])
    )
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for v in adj:
        seen, todo = {v}, [v]
        while todo:
            for w in adj[todo.pop()] - seen:
                seen.add(w)
                todo.append(w)
        want[v] = min(seen)
    a = np.array([e[0] for e in edges], dtype=np.int64)
    b = np.array([e[1] for e in edges], dtype=np.int64)
    verts, labels = _min_labels(a, b)
    assert verts.tolist() == sorted(want)
    assert dict(zip(verts.tolist(), labels.tolist())) == want


def test_eager_checkpoint_does_not_capture_lazy_caches(spark):
    """Round-5 review: a LAZY persist() whose first materialization
    happens inside a checkpoint job must not be captured as checkpoint
    storage — _free_checkpoint would otherwise evict it and every
    later probe would recompute from scratch."""
    from hfcommunity_spark.operators.graph import (
        _eager_checkpoint,
        _free_checkpoint,
    )

    jsc = spark.sparkContext._jsc
    base = set(jsc.getPersistentRDDs().keySet().toArray())
    cached = spark.range(1000).selectExpr("id", "id * 2 AS v").persist()
    try:
        # not yet materialized; the checkpoint job triggers it
        derived = cached.selectExpr("id", "v + 1 AS w")
        ck, ids = _eager_checkpoint(derived)
        assert ck.count() == 1000
        assert ids, "checkpoint storage must be captured"
        _free_checkpoint(spark, ids)
        m = jsc.getPersistentRDDs()
        survivors = [
            i for i in set(m.keySet().toArray()) - base
            if m.get(i) is not None
            and not m.get(i).rdd().isLocallyCheckpointed()
        ]
        assert survivors, "lazy cache was evicted by _free_checkpoint"
        for i in ids:  # the checkpoint blocks themselves ARE freed
            assert m.get(i) is None or not m.get(
                i).rdd().getStorageLevel().isValid()
    finally:
        cached.unpersist()


def test_components_delta_equals_rebuild(spark):
    """Incremental CC maintenance: base + sequential edge deliveries
    through components_delta must equal the from-scratch labeling on
    the union — including the hard case where a later delivery's edge
    MERGES two components that were distinct at every earlier step,
    and brand-new vertices forming their own components."""
    from hfcommunity_spark.operators.graph import (
        components_delta,
        connected_components,
    )

    # chains 0-1-2, 10-11-12, 20-21 built in delivery 1; delivery 2
    # adds 30-31 (new component) and the 2-10 bridge (merges the first
    # two chains); delivery 3 bridges 21-30 (merges across deliveries)
    base_edges = [(0, 1), (1, 2), (10, 11), (11, 12), (20, 21)]
    d1 = [(30, 31), (2, 10)]
    d2 = [(21, 30), (40, 41)]

    def df_of(pairs):
        return spark.createDataFrame(pairs, "src long, dst long")

    assign = connected_components(df_of(base_edges))
    for delivery in (d1, d2):
        assign = components_delta(assign, df_of(delivery))
        assign = assign.localCheckpoint()

    got = {(r.vertex, r.component) for r in assign.collect()}
    want = {
        (r.vertex, r.component)
        for r in connected_components(
            df_of(base_edges + d1 + d2)
        ).collect()
    }
    assert got == want and len(got) == 12
    # the merged mega-component keeps the min-id invariant
    comp_of = dict(got)
    assert comp_of[12] == 0 and comp_of[31] == 20 and comp_of[40] == 40


def test_components_delta_distributed_fallback_matches_local(spark,
                                                             monkeypatch):
    """The quotient merge map has two resolution paths: the
    single-task union-find (quotients up to CC_LOCAL_EDGE_LIMIT) and
    the star contraction above it.  Pinning the limit to 0 forces the
    star path over the same deliveries; both must produce the
    identical assignment."""
    from hfcommunity_spark.operators import graph as G

    base_edges = [(0, 1), (1, 2), (10, 11), (11, 12), (20, 21)]
    d1 = [(30, 31), (2, 10)]
    d2 = [(21, 30), (40, 41)]

    def df_of(pairs):
        return spark.createDataFrame(pairs, "src long, dst long")

    def run():
        assign = G.connected_components(df_of(base_edges))
        for delivery in (d1, d2):
            assign = G.components_delta(assign, df_of(delivery))
            assign = assign.localCheckpoint()
        return {(r.vertex, r.component) for r in assign.collect()}

    local = run()
    monkeypatch.setattr(G, "CC_LOCAL_EDGE_LIMIT", 0)
    assert run() == local


# --- bucketed assignment layout (round 8) ------------------------------


def _chain_edges(spark, n, chain=10):
    from pyspark.sql import functions as F

    return (
        spark.range(n)
        .filter(F.col("id") % chain != chain - 1)
        .select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
        )
    )


def test_bucketed_relabel_parity_with_full_rewrite(spark, tmp_path):
    """Rewritten buckets ∪ untouched rows must equal the full
    components_delta output — the bucketed writer changes IO shape,
    never values."""
    from pyspark.sql import functions as F

    from hfcommunity_spark.operators.graph import (
        component_merge_plan,
        components_delta,
        connected_components,
        relabel_affected_buckets,
        write_component_assign,
    )

    hist = _chain_edges(spark, 200)
    delta = spark.range(4).select(
        (F.col("id") * 20 + 9).alias("src"),
        (F.col("id") * 20 + 10).alias("dst"),
    )
    assign = connected_components(hist).localCheckpoint()
    out = str(tmp_path / "assign")
    write_component_assign(assign, out)

    fresh, relabel = component_merge_plan(assign, delta)
    assert relabel is not None and fresh.count() == 0
    rewritten = relabel_affected_buckets(spark, out, relabel)
    touched = {r.vertex for r in rewritten.collect()}
    merged = {
        (r.vertex, r.component)
        for r in rewritten.collect()
    } | {
        (r.vertex, r.component)
        for r in assign.collect()
        if r.vertex not in touched
    }
    full = {
        (r.vertex, r.component)
        for r in components_delta(assign, delta).collect()
    }
    assert merged == full and len(full) == 200


def test_bucketed_relabel_is_partition_pruned(spark, tmp_path):
    """The relabel scan must reach parquet with a c_bucket
    PartitionFilter — bucket IO is bounded by the delivery's merge
    map, not the assignment size."""
    import re

    from pyspark.sql import functions as F

    from hfcommunity_spark.operators.graph import (
        component_merge_plan,
        connected_components,
        relabel_affected_buckets,
        write_component_assign,
    )

    hist = _chain_edges(spark, 200)
    assign = connected_components(hist).localCheckpoint()
    out = str(tmp_path / "assign")
    write_component_assign(assign, out)
    delta = spark.range(2).select(
        (F.col("id") * 20 + 9).alias("src"),
        (F.col("id") * 20 + 10).alias("dst"),
    )
    _fresh, relabel = component_merge_plan(assign, delta)
    probe = relabel_affected_buckets(spark, out, relabel)
    plan = probe._sc._jvm.PythonSQLUtils.explainString(
        probe._jdf.queryExecution(), "formatted")
    assert re.search(r"PartitionFilters: \[[^\]]*c_bucket", plan), plan


def test_bucketed_assign_one_file_per_bucket(spark, tmp_path):
    """The writer repartitions on the bucket key, so each bucket dir
    holds ONE data file regardless of writer parallelism (the span
    layout's measured file-fanout lesson)."""
    import glob
    import os

    from hfcommunity_spark.operators.graph import (
        connected_components,
        write_component_assign,
    )

    hist = _chain_edges(spark, 500).repartition(16)
    assign = connected_components(hist)
    out = str(tmp_path / "assign")
    write_component_assign(assign, out)
    for d in glob.glob(os.path.join(out, "c_bucket=*")):
        files = [f for f in os.listdir(d) if f.endswith(".parquet")]
        assert len(files) == 1, (d, files)


def test_pruned_merge_plan_parity_with_in_memory(spark, tmp_path):
    """component_merge_plan_pruned against the persisted vertex-
    bucketed table must produce the same fresh rows and relabel map
    as the in-memory plan on identical inputs — including fresh
    (never-seen) vertices in the delivery."""
    from pyspark.sql import functions as F

    from hfcommunity_spark.operators.graph import (
        component_merge_plan,
        component_merge_plan_pruned,
        connected_components,
        write_vertex_assign,
    )

    hist = _chain_edges(spark, 200)
    assign = connected_components(hist).localCheckpoint()
    out = str(tmp_path / "vassign")
    write_vertex_assign(assign, out, buckets=8)
    # two chain merges + one edge touching a brand-new vertex
    delta = spark.createDataFrame(
        [(9, 10), (29, 30), (5, 100001)], "src long, dst long"
    )
    f_mem, r_mem = component_merge_plan(assign, delta)
    f_pr, r_pr = component_merge_plan_pruned(spark, out, delta, buckets=8)
    assert {tuple(r) for r in f_mem.collect()} == \
           {tuple(r) for r in f_pr.collect()}
    assert r_mem is not None and r_pr is not None
    assert {tuple(r) for r in r_mem.collect()} == \
           {tuple(r) for r in r_pr.collect()}


def test_pruned_vertex_lookup_is_partition_pruned(spark, tmp_path):
    """The endpoint-resolution scan must reach parquet with a
    v_bucket PartitionFilter."""
    import re

    from pyspark.sql import functions as F

    from hfcommunity_spark.operators.graph import (
        connected_components,
        resolve_assign_pruned,
        write_vertex_assign,
    )

    hist = _chain_edges(spark, 200)
    assign = connected_components(hist).localCheckpoint()
    out = str(tmp_path / "vassign")
    write_vertex_assign(assign, out, buckets=16)
    verts = spark.createDataFrame([(9,), (10,)], "vertex long")
    df = resolve_assign_pruned(spark, out, verts, buckets=16)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert re.search(r"PartitionFilters: \[[^\]]*v_bucket", plan), plan
    got = {(r.vertex, r.component) for r in df.collect()}
    assert got == {(9, 0), (10, 10)}


def test_apply_relabel_in_place_lifecycle(spark, tmp_path):
    """Full maintained-table lifecycle: write → delivery → in-place
    partition rewrite → the table equals components_delta, no stale
    rows survive a fully-emptied bucket, and untouched partitions'
    files are byte-untouched (mtime physics lock)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from hfcommunity_spark.operators.graph import (
        apply_relabel_in_place,
        component_merge_plan,
        components_delta,
        connected_components,
        write_component_assign,
    )

    hist = _chain_edges(spark, 200)
    assign = connected_components(hist).localCheckpoint()
    out = str(tmp_path / "cassign")
    write_component_assign(assign, out, buckets=16)
    before = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(out, "c_bucket=*/*.parquet"))
    }
    delta = spark.createDataFrame(
        [(9, 10), (49, 50)], "src long, dst long"
    )
    _fresh, relabel = component_merge_plan(assign, delta)
    assert relabel is not None
    touched = {
        r.b
        for r in relabel.select(
            F.pmod(F.xxhash64("component"), F.lit(16)).cast("int")
            .alias("b")
        ).collect()
    } | {
        r.b
        for r in relabel.select(
            F.pmod(F.xxhash64("merged"), F.lit(16)).cast("int")
            .alias("b")
        ).collect()
    }
    apply_relabel_in_place(spark, out, relabel, buckets=16)

    got = {
        (r.vertex, r.component)
        for r in spark.read.parquet(out)
        .select("vertex", "component").collect()
    }
    want = {
        (r.vertex, r.component)
        for r in components_delta(assign, delta).collect()
    }
    assert got == want and len(want) == 200
    # untouched partitions: same files, same mtimes
    for f, m in before.items():
        b = int(f.split("c_bucket=")[1].split("/")[0])
        if b not in touched:
            assert os.path.exists(f) and os.path.getmtime(f) == m, f


def test_apply_relabel_in_place_drops_emptied_bucket(spark, tmp_path):
    """A bucket whose every row moves to the merged component's bucket
    must not keep stale files (dynamic overwrite alone would leave
    them: it only replaces partitions present in the output)."""
    import os

    from pyspark.sql import functions as F

    from hfcommunity_spark.operators.graph import (
        apply_relabel_in_place,
        component_merge_plan,
        connected_components,
        write_component_assign,
    )

    hist = _chain_edges(spark, 200)
    assign = connected_components(hist).localCheckpoint()
    buckets = 64
    # find a component that has its bucket entirely to itself
    comp_bucket = {
        r.component: r.b
        for r in assign.select("component").distinct().select(
            "component",
            F.pmod(F.xxhash64("component"), F.lit(buckets)).cast("int")
            .alias("b"),
        ).collect()
    }
    from collections import Counter

    counts = Counter(comp_bucket.values())
    solo = [c for c, b in comp_bucket.items() if counts[b] == 1 and c != 0]
    assert solo, "deterministic data should give some solo bucket"
    victim = solo[0]
    out = str(tmp_path / "cassign")
    write_component_assign(assign, out, buckets=buckets)
    # merge the victim chain's head into chain 0 (vertex victim is the
    # chain head == its component label)
    delta = spark.createDataFrame([(0, victim)], "src long, dst long")
    _fresh, relabel = component_merge_plan(assign, delta)
    assert relabel is not None
    apply_relabel_in_place(spark, out, relabel, buckets=buckets)
    assert not os.path.isdir(
        os.path.join(out, f"c_bucket={comp_bucket[victim]}")
    )
    got = {
        (r.vertex, r.component)
        for r in spark.read.parquet(out).collect()
    }
    assert all(c != victim for _v, c in got)
    assert sum(1 for _v, c in got if c == 0) == 20  # merged chain


def test_relabel_in_place_syncs_catalog_partitions(spark, tmp_path):
    """When the component layout is registered as a CATALOG table (the
    deployment shape; the delta bench does exactly this), the in-place
    writer must keep partition METADATA in step with the directory
    tree: an emptied bucket is DROP-ed (a catalog-pruned read touching
    it must not fail on a missing directory or return stale rows) and
    written buckets are ADD-ed.  Round-8 review finding: rmtree alone
    left the metastore listing the removed partition."""
    import os

    from pyspark.sql import functions as F

    from hfcommunity_spark.operators.graph import (
        apply_relabel_in_place,
        component_merge_plan,
        connected_components,
        write_component_assign,
    )

    hist = _chain_edges(spark, 200)
    assign = connected_components(hist).localCheckpoint()
    buckets = 64
    comp_bucket = {
        r.component: r.b
        for r in assign.select("component").distinct().select(
            "component",
            F.pmod(F.xxhash64("component"), F.lit(buckets)).cast("int")
            .alias("b"),
        ).collect()
    }
    from collections import Counter

    counts = Counter(comp_bucket.values())
    solo = [c for c, b in comp_bucket.items() if counts[b] == 1 and c != 0]
    assert solo, "deterministic data should give some solo bucket"
    victim = solo[0]
    out = str(tmp_path / "cassign")
    write_component_assign(assign, out, buckets=buckets)
    tname = "hfc_test_cat_sync"
    spark.sql(f"DROP TABLE IF EXISTS {tname}")
    spark.sql(
        f"CREATE TABLE {tname} (vertex BIGINT, component BIGINT) "
        f"USING parquet PARTITIONED BY (c_bucket INT) LOCATION '{out}'"
    )
    spark.sql(f"MSCK REPAIR TABLE {tname}")
    try:
        delta = spark.createDataFrame([(0, victim)], "src long, dst long")
        fresh, relabel = component_merge_plan(assign, delta)
        apply_relabel_in_place(
            spark, out, relabel, buckets=buckets,
            assign_rel=spark.table(tname), table_name=tname,
        )
        vb = comp_bucket[victim]
        assert not os.path.isdir(os.path.join(out, f"c_bucket={vb}"))
        # metastore must no longer list the dropped partition ...
        parts = {
            r[0] for r in spark.sql(f"SHOW PARTITIONS {tname}").collect()
        }
        assert f"c_bucket={vb}" not in parts
        # ... and a catalog-pruned read of that bucket is empty, not an
        # error; the full catalog read equals the directory truth
        assert spark.table(tname).filter(
            F.col("c_bucket") == vb
        ).count() == 0
        got = {
            (r.vertex, r.component)
            for r in spark.table(tname)
            .select("vertex", "component").collect()
        }
        want = {
            (r.vertex, r.component)
            for r in spark.read.parquet(out)
            .select("vertex", "component").collect()
        }
        assert got == want and all(c != victim for _v, c in got)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tname}")


def test_maintained_table_under_streaming_deliveries(spark, tmp_path):
    """End-to-end maintained-table lifecycle under REAL micro-batches:
    each foreachBatch delivery goes through fold_components_delivery,
    which resolves endpoints against the persisted vertex layout,
    rewrites the component layout in place (fresh rows included) and
    upserts the vertex projection so the next delivery's lookups see
    current labels.  After the stream drains, BOTH layouts equal the
    one-shot CC over history + all deliveries — including a fresh
    vertex arriving mid-stream."""
    from pyspark.sql import types as T

    from hfcommunity_spark.operators.graph import (
        connected_components,
        fold_components_delivery,
        write_component_assign,
        write_vertex_assign,
    )

    buckets = 16
    hist = _chain_edges(spark, 120)
    assign = connected_components(hist).localCheckpoint()
    cdir = str(tmp_path / "cassign")
    vdir = str(tmp_path / "vassign")
    write_component_assign(assign, cdir, buckets=buckets)
    write_vertex_assign(assign, vdir, buckets=buckets)

    schema = T.StructType([
        T.StructField("src", T.LongType()),
        T.StructField("dst", T.LongType()),
    ])
    src_dir = str(tmp_path / "edges_in")
    # delivery 3 chains a FRESH vertex into an already-merged cluster
    deliveries = [[(9, 10)], [(29, 30), (49, 50)], [(10, 30), (5, 777)]]

    def fold(batch_df, batch_id):
        fold_components_delivery(spark, cdir, vdir, batch_df, buckets)

    for rows in deliveries:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
        q = (
            spark.readStream.schema(schema).parquet(src_dir)
            .writeStream.foreachBatch(fold)
            .option("checkpointLocation", f"{tmp_path}/ckpt_cc")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    all_edges = hist.unionByName(
        spark.createDataFrame(
            [e for d in deliveries for e in d], schema
        )
    )
    want = {
        (r.vertex, r.component)
        for r in connected_components(all_edges).collect()
    }
    for d in (cdir, vdir):
        got = {
            (r.vertex, r.component)
            for r in spark.read.parquet(d)
            .select("vertex", "component").collect()
        }
        assert got == want, d
    assert len(want) == 121  # 120 chain vertices + the fresh one


def test_py_xxh64_matches_spark_xxhash64(spark):
    """_xxh64_long / _py_bucket are the driver-side twins of
    F.xxhash64 / _bucket_expr for BIGINT keys — the writers' Python
    fast path silently selects the WRONG partitions if they ever
    drift, so lock value parity across the int64 domain (boundaries,
    negatives, random draws)."""
    import random

    from pyspark.sql import functions as F

    from hfcommunity_spark.operators.graph import _py_bucket, _xxh64_long

    rng = random.Random(0xC0FFEE)
    vals = [0, 1, -1, 42, 2**63 - 1, -(2**63), 2**62, -(2**62)] + [
        rng.randrange(-(2**63), 2**63) for _ in range(200)
    ]
    got = spark.createDataFrame([(v,) for v in vals], "v long").select(
        "v",
        F.xxhash64("v").alias("h"),
        F.pmod(F.xxhash64("v"), F.lit(64)).cast("int").alias("b64"),
        F.pmod(F.xxhash64("v"), F.lit(7)).cast("int").alias("b7"),
    ).collect()
    for r in got:
        assert _xxh64_long(r.v) == r.h, r.v
        assert _py_bucket(r.v, 64) == r.b64, r.v
        assert _py_bucket(r.v, 7) == r.b7, r.v


def _layouts(tmp, spark, tag, buckets=8, n=120):
    """(cdir, vdir): both assignment layouts of CC over n chain edges."""
    from hfcommunity_spark.operators.graph import (
        connected_components,
        write_component_assign,
        write_vertex_assign,
    )

    assign = connected_components(_chain_edges(spark, n)).localCheckpoint()
    cdir, vdir = str(tmp / f"c_{tag}"), str(tmp / f"v_{tag}")
    write_component_assign(assign, cdir, buckets=buckets)
    write_vertex_assign(assign, vdir, buckets)
    return cdir, vdir


def _assignment(spark, layout):
    return {
        (r.vertex, r.component)
        for r in spark.read.parquet(layout)
        .select("vertex", "component").collect()
    }


def test_bounded_fold_schedules_zero_spark_jobs(spark, tmp_path):
    """A bounded delivery's ENTIRE fold, given collected rows — label
    probe, union-find and both projection rewrites — runs as driver/
    filesystem work and schedules NO Spark job.  A change that
    reintroduces a job per fold flips this test, not just a bench
    number."""
    from hfcommunity_spark.operators.graph import fold_components_delivery

    cdir, vdir = _layouts(tmp_path, spark, "zero")
    sc = spark.sparkContext
    group = "hfc-zero-job-fold"
    sc.setJobGroup(group, "bounded fold must not schedule jobs")
    try:
        fold_components_delivery(
            spark, cdir, vdir, [(9, 10), (29, 30), (5, 200001)], 8
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    # and the fold actually happened: the merge + fresh vertex are in
    # the rewritten layouts
    got = _assignment(spark, cdir)
    assert (9, 0) in got and (10, 0) in got      # 0↔10 merged
    assert (200001, 0) in got                    # fresh joins 5's comp
    assert got == _assignment(spark, vdir)  # both projections agree


def test_fold_reads_every_gate_before_any_write(spark, tmp_path,
                                                monkeypatch):
    """The local fold checks every gate before it writes: with the
    last read (the changed vertices' v_buckets) forced over its cap,
    both layouts' file listings are still the pre-fold listings when
    the distributed chain starts, and the distributed chain then
    leaves the same end state as the local fold."""
    import os

    from hfcommunity_spark.operators import bucketed
    from hfcommunity_spark.operators import graph as G

    delivery = [(9, 10), (29, 30), (5, 200001), (200001, 200002)]

    def listing(d):
        return sorted(
            os.path.relpath(os.path.join(r, f), d)
            for r, _, fs in os.walk(d) for f in fs
        )

    want_c, want_v = _layouts(tmp_path, spark, "local")
    G.fold_components_delivery(spark, want_c, want_v, delivery, 8)

    cdir, vdir = _layouts(tmp_path, spark, "gated")
    before = (listing(cdir), listing(vdir))
    reads, entered = [], []
    real_read, real_plan = bucketed.read_rows, G.component_merge_plan_pruned

    def read_rows(dir_, pcol, bkts, columns, cap):
        reads.append((dir_, pcol))
        return real_read(dir_, pcol, bkts, columns,
                         0 if len(reads) == 3 else cap)

    def merge_plan(*a, **kw):
        entered.append((listing(cdir), listing(vdir)))
        return real_plan(*a, **kw)

    monkeypatch.setattr(bucketed, "read_rows", read_rows)
    monkeypatch.setattr(G, "component_merge_plan_pruned", merge_plan)
    G.fold_components_delivery(spark, cdir, vdir, delivery, 8)
    assert reads == [(vdir, "v_bucket"), (cdir, "c_bucket"),
                     (vdir, "v_bucket")]
    assert entered == [before]
    assert _assignment(spark, cdir) == _assignment(spark, want_c)
    assert _assignment(spark, vdir) == _assignment(spark, want_v)
    assert _assignment(spark, cdir) == _assignment(spark, vdir)


def test_pruned_merge_plan_property_local_equals_distributed(spark,
                                                             tmp_path):
    """Across randomized histories and deliveries (merges within the
    history, merges ACROSS prior deliveries, fresh chains, self-loops,
    duplicate edges), fold_components_delivery's local fold and its
    distributed chain (under placement.distributed()) must produce
    identical maintained assignments.  Folds several deliveries so
    each fold's relabel maps feed back through the PERSISTED layouts
    — the exact x15 shape."""
    import random

    from hfcommunity_spark.operators.graph import (
        connected_components,
        fold_components_delivery,
        write_component_assign,
        write_vertex_assign,
    )

    rng = random.Random(0xBEEF)
    hist_edges = [(i, i + 1) for i in range(0, 200, 2)]  # 100 pairs
    deliveries = []
    next_fresh = 10_000
    prior_fresh: list = []  # fresh vertices from EARLIER deliveries
    for _ in range(3):
        d = []
        for _ in range(12):
            kind = rng.random()
            if kind < 0.35:  # merge two existing chains
                a, b = rng.randrange(200), rng.randrange(200)
                d.append((a, b))
            elif kind < 0.6:  # fresh chain (maybe touching existing)
                d.append((next_fresh, next_fresh + 1))
                if rng.random() < 0.5:
                    d.append((next_fresh + 1, rng.randrange(200)))
                next_fresh += 2
            elif kind < 0.8 and prior_fresh:
                # edge onto a PRIOR delivery's fresh vertex — the
                # cross-delivery feedback: its row exists only in the
                # persisted vertex layout written by an earlier fold,
                # so the pruned probe must find it (a writer that put
                # it in the wrong v_bucket would re-treat it as fresh
                # and diverge from the distributed path / rebuild)
                d.append((rng.choice(prior_fresh), rng.randrange(200)))
            else:  # noise: self-loop + a duplicate of some edge
                v = rng.randrange(200)
                d.append((v, v))
                d.append(d[rng.randrange(len(d))])
        deliveries.append(d)
        prior_fresh.extend(
            v for e in d for v in e if v >= 10_000
        )

    def fold_all(tag: str, force_distributed: bool) -> set:
        buckets = 16
        cdir = str(tmp_path / f"c_{tag}")
        vdir = str(tmp_path / f"v_{tag}")
        hist = spark.createDataFrame(hist_edges, "src long, dst long")
        assign = connected_components(hist).localCheckpoint()
        write_component_assign(assign, cdir, buckets=buckets)
        write_vertex_assign(assign, vdir, buckets)
        with (placement.distributed() if force_distributed
              else contextlib.nullcontext()):
            for d in deliveries:
                delta = spark.createDataFrame(d, "src long, dst long")
                fold_components_delivery(spark, cdir, vdir, delta,
                                         buckets)
        return {
            (r.vertex, r.component)
            for r in spark.read.parquet(cdir)
            .select("vertex", "component").collect()
        }

    assert any(
        a >= 10_000 and b < 200
        for k, d in enumerate(deliveries) for (a, b) in d
        if any(a in (x, y) for dd in deliveries[:k] for (x, y) in dd)
    ), "generator must produce a cross-delivery fresh reference"
    local = fold_all("local", force_distributed=False)
    dist = fold_all("dist", force_distributed=True)
    assert local == dist and len(local) > 100
    # ground truth: one-shot CC over history + all deliveries
    all_e = spark.createDataFrame(
        hist_edges + [e for d in deliveries for e in d],
        "src long, dst long",
    )
    truth = {
        (r.vertex, r.component)
        for r in connected_components(all_e).collect()
    }
    # persisted layouts hold singletons only if they ever had an edge;
    # CC over the union returns exactly the same universe here
    assert local == truth


def test_ancestors_local_twin_matches_distributed(spark, monkeypatch):
    """The round-12 driver-local ancestry twin must reproduce the
    checkpointed frontier walk exactly — min hops per (start,
    ancestor), hop cap honored — with ANC_LOCAL_WORK_MAX pinned to 0
    forcing the distributed loop on the same DAG."""
    from hfcommunity_spark.operators.graph import ancestors

    # diamond + chain: f -> {d, e} -> c -> b -> a, plus d -> b
    edges = spark.createDataFrame(
        [("f", "d"), ("f", "e"), ("d", "c"), ("e", "c"),
         ("d", "b"), ("c", "b"), ("b", "a")],
        "commit_sha string, parent_sha string",
    )
    starts = spark.createDataFrame(
        [("f",), ("c",)], "sha string"
    )
    local = {tuple(r) for r in ancestors(edges, starts, 3).collect()}
    with monkeypatch.context() as mp:
        mp.setitem(placement.CAPS, "ANC_LOCAL_WORK_MAX", 0)
        dist = {tuple(r) for r in ancestors(edges, starts, 3).collect()}
    assert local == dist
    # min-hop dedup: b is reachable from f via d (2 hops) and via
    # c (3 hops) — BFS must record 2; a sits at 3 via the same path
    assert ("f", "b", 2) in local
    assert ("f", "a", 3) in local
    # and the hop cap actually binds: at max_hops=2, a drops
    capped = {tuple(r) for r in ancestors(edges, starts, 2).collect()}
    assert not any(s == "f" and a == "a" for s, a, _ in capped)
    assert ("f", "b", 2) in capped


def test_ancestors_local_twin_dedups_duplicate_starts(spark, monkeypatch):
    """Duplicate start shas: the distributed loop's distinct()+
    left_anti gives SET semantics per (sha, node), so the local twin
    must not emit duplicated rows for a start listed twice (ADVICE
    r12) — assert as a LIST (duplicates would survive a set compare)
    and against the forced-distributed walk on the same input."""
    from hfcommunity_spark.operators.graph import ancestors

    edges = spark.createDataFrame(
        [("c", "b"), ("b", "a")], "commit_sha string, parent_sha string"
    )
    starts = spark.createDataFrame(
        [("c",), ("c",), ("b",)], "sha string"
    )
    local = sorted(tuple(r) for r in ancestors(edges, starts, 3).collect())
    assert local == sorted([
        ("c", "b", 1), ("c", "a", 2), ("b", "a", 1),
    ])
    with monkeypatch.context() as mp:
        mp.setitem(placement.CAPS, "ANC_LOCAL_WORK_MAX", 0)
        dist = sorted(
            tuple(r) for r in ancestors(edges, starts, 3).collect()
        )
    assert local == dist


def test_ancestors_local_property_random_dags(spark, monkeypatch):
    """Randomized-DAG parity sweep for the ancestors twin (the
    round-13 gate rewrite): across seeded random DAGs — multiple
    roots, diamond merges, duplicate edge rows, duplicate starts,
    varying hop caps — the driver-local BFS must equal the forced
    distributed frontier walk row for row."""
    import random

    from hfcommunity_spark.operators.graph import ancestors

    rng = random.Random(0xA13C)
    for case in range(4):
        n = rng.randint(6, 18)
        edges = []
        for child in range(1, n):
            for parent in rng.sample(
                range(child), k=min(child, rng.randint(1, 3))
            ):
                edges.append((f"c{child}", f"c{parent}"))
        # duplicate edge rows: the distributed walk's per-hop
        # distinct() absorbs them; the twin's visited-set must too
        edges += [edges[i] for i in
                  rng.sample(range(len(edges)), k=min(3, len(edges)))]
        starts = [f"c{rng.randrange(n)}" for _ in range(rng.randint(1, 5))]
        max_hops = rng.randint(1, 4)
        edf = spark.createDataFrame(
            edges, "commit_sha string, parent_sha string"
        )
        sdf = spark.createDataFrame(
            [(s,) for s in starts], "sha string"
        )
        local = sorted(
            tuple(r) for r in ancestors(edf, sdf, max_hops).collect()
        )
        with monkeypatch.context() as mp:
            mp.setitem(placement.CAPS, "ANC_LOCAL_WORK_MAX", 0)
            dist = sorted(
                tuple(r) for r in ancestors(edf, sdf, max_hops).collect()
            )
        assert local == dist, f"case {case}: {local} != {dist}"


def test_ancestors_local_gate_ships_nothing_over_cap(spark, monkeypatch):
    """The fallback decision must be learnable WITHOUT shipping the
    edge list: with the work cap pinned below |starts| x |edges|, the
    twin returns None off bounded counts and the distributed walk
    still answers (the ADVICE r12 medium — the old gate collected
    cap+1 Rows first).  Exercised by pinning the cap to the start
    count so the starts pass but the work product fails."""
    from hfcommunity_spark.operators import graph as G
    from hfcommunity_spark.operators.graph import ancestors

    edges = spark.createDataFrame(
        [("c", "b"), ("b", "a"), ("d", "c")],
        "commit_sha string, parent_sha string",
    )
    starts = spark.createDataFrame([("d",), ("c",)], "sha string")
    with monkeypatch.context() as mp:
        # starts fit (2 <= 2), 2*3 edges do not
        mp.setitem(placement.CAPS, "ANC_LOCAL_WORK_MAX", 2)
        assert G._ancestors_local(edges, starts, 3) is None
        got = {tuple(r) for r in ancestors(edges, starts, 3).collect()}
    assert ("d", "a", 3) in got and ("c", "a", 2) in got
