"""Commit-DAG traversal over the commit_parents edge list
(SURVEY §2.3 J5 / §1.1 — the reference's only graph-shaped table,
DDL databaseImport.py:236-239).

MariaDB 10.3 gave the reference recursive CTEs for ancestry walks; in
Spark the equivalent is iterative frontier expansion — each hop is one
equi join on the edge list, the loop lives in the driver, the data
never does.  Hop count is bounded by the DAG depth; each iteration's
frontier is deduplicated so the join input never exceeds the reachable
set (this is BFS, not path enumeration — no exponential blowup on
diamond merges).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hfcommunity_spark.operators import bucketed, placement


def _new_checkpoint_ids(spark: SparkSession, before: set) -> list[int]:
    """The persistent RDD ids created since ``before`` (a
    :func:`pinned_block_ids` snapshot) whose RDD is actually locally
    checkpointed — the one before/after diff behind every checkpoint-
    freeing seam.  The filter matters: a checkpoint JOB may also
    materialize unrelated LAZY ``persist()`` caches upstream (e.g. a
    session-persisted index feeding the edge pipeline); capturing
    those ids would let ``_free_checkpoint`` silently evict build-
    once/probe-many caches for the rest of the session (round-5
    review finding)."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    return sorted(
        i for i in set(m.keySet().toArray()) - before
        if (r := m.get(i)) is not None
        and r.rdd().isLocallyCheckpointed()
    )


def _eager_checkpoint(df: DataFrame) -> tuple[DataFrame, list[int]]:
    """``localCheckpoint(eager=True)`` plus the ids of the checkpoint's
    newly persisted RDD blocks (:func:`_new_checkpoint_ids`), so the
    caller can free a superseded round's storage deterministically
    (see :func:`_free_checkpoint`)."""
    before = pinned_block_ids(df.sparkSession)
    ck = df.localCheckpoint(eager=True)
    return ck, _new_checkpoint_ids(df.sparkSession, before)


def _lazy_checkpoint(df: DataFrame) -> tuple[DataFrame, list[int]]:
    """``localCheckpoint(eager=False)`` plus the new block ids — the
    :func:`_eager_checkpoint` bookkeeping WITHOUT the materializing
    job (r15, guide §2: per-job fixed cost dominates the iterative
    operators at bench scale, and the caps-zeroed arm pays it at any
    scale).  The mark registers the RDD with the block manager
    immediately (ids are capturable before any action) and truncates
    the returned frame's plan to the checkpoint scan, so the CALLER'S
    next FULL-PASS action — the ``count()`` an iterative loop needs
    anyway — materializes every partition in one job instead of two
    (checkpoint job + probe job).

    Contract: the first action the caller runs on the returned frame
    must compute ALL partitions (``count``, a full write/collect —
    NOT ``isEmpty``/``take``, whose partial pass would leave the
    backfill to a second implicit job, re-paying what this fusion
    removes)."""
    before = pinned_block_ids(df.sparkSession)
    ck = df.localCheckpoint(eager=False)
    return ck, _new_checkpoint_ids(df.sparkSession, before)


def _free_checkpoint(spark: SparkSession, ids: list[int]) -> None:
    """Release checkpoint blocks NOW instead of waiting for the GC-
    driven ContextCleaner — otherwise long iterative chains grow
    executor storage nondeterministically (ADVICE r4).  Local
    checkpoint blocks ARE the data (lineage is truncated), so only free
    a round once every frame derived from it has itself been eagerly
    materialized."""
    m = spark.sparkContext._jsc.getPersistentRDDs()
    for i in ids:
        rdd = m.get(i)
        if rdd is not None:
            rdd.unpersist(False)


def pinned_block_ids(spark: SparkSession) -> set:
    """Snapshot the persistent-RDD id set — the BEFORE half of the
    invocation checkpoint-hygiene discipline (see
    :func:`materialize_and_free`)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs()
               .keySet().toArray())


def materialize_and_free(spark: SparkSession, before: set,
                         out: DataFrame) -> DataFrame:
    """The x15 checkpoint-hygiene discipline as a reusable seam for
    declared queries built on iterative operators: eagerly checkpoint
    the (small) final frame, then free every locally-checkpointed
    block this invocation created — BFS frontiers, per-round edge/
    degree pins — so repeated invocations (the bench loop, a long
    serving session) pin only their results, not hundreds of MB of
    dead intermediates waiting for the GC-driven ContextCleaner.
    The isLocallyCheckpointed filter keeps session ``persist()``
    caches out (:func:`_new_checkpoint_ids`).

    NOT safe under concurrent invocations sharing one SparkSession:
    the before/after diff is session-global, so a parallel thread's
    in-flight checkpoint blocks would land in this invocation's freed
    set (truncated lineage → unrecomputable).  Every consumer in this
    repo — the bench loop, the driver contract, the declared-query
    faces — runs queries sequentially per session by design; a
    concurrent serving deployment must scope its own hygiene."""
    created = _new_checkpoint_ids(spark, before)
    out = out.localCheckpoint()
    _free_checkpoint(spark, created)
    return out


def _bfs_hops(parents: dict, start, max_hops: int) -> dict:
    """``{node: min hops}`` of every ancestor of ``start`` within
    ``max_hops`` over the ``{node: [parent, ...]}`` map, ``start``
    itself at 0, in discovery order: a level-order BFS, so the first
    hop a node is reached at is its minimum."""
    hops = {start: 0}
    frontier = [start]
    for hop in range(1, max_hops + 1):
        nxt = []
        for node in frontier:
            for p in parents.get(node, ()):
                if p not in hops:
                    hops[p] = hop
                    nxt.append(p)
        if not nxt:
            break
        frontier = nxt
    return hops


def _ancestors_local(commit_parents: DataFrame, start_shas: DataFrame,
                     max_hops: int) -> DataFrame | None:
    """Driver-local twin of :func:`ancestors`: a compact Arrow collect
    of the start set, a bounded COUNT pre-gate on the edge list, then
    :func:`_bfs_hops` per start —
    value-identical to the per-hop frontier joins (BFS order gives the
    same minimal hop counts).

    Gate shape (ADVICE r12, medium): the edge side is the one that is
    corpus-sized on the 100 TB fallback path, so it is gated by
    ``limit(cap+1).count()`` — a JVM-side job that ships NOTHING to
    the driver — and the |starts| x |edges| work product is checked
    BEFORE the single columnar ``toArrow`` transfer.  The r12 shape
    (Row-object collect first, gate after) moved up to cap+1 driver
    Rows per call just to learn it must fall back.

    Start shas are DEDUPLICATED before the walk (ADVICE r12): the
    distributed loop's distinct()+left_anti gives set semantics per
    (sha, node), so a duplicated start row must not duplicate output
    rows.  The distributed walk pays ~2 jobs per hop of pure fixed
    cost on fixture-sized DAGs; at a real 100 TB commit graph the
    gates fail on bounded counts alone and the checkpointed frontier
    loop below runs unchanged."""
    cap = placement.CAPS["ANC_LOCAL_WORK_MAX"]
    st_t = placement.bounded_arrow(start_shas.select("sha"), cap)
    if st_t is None:
        return None
    # dict.fromkeys: set semantics, deterministic first-seen order
    starts = list(dict.fromkeys(st_t.column("sha").to_pylist()))
    edges_df = commit_parents.select("commit_sha", "parent_sha")
    n_edges = edges_df.limit(cap + 1).count()
    if n_edges > cap or len(starts) * n_edges > cap:
        return None
    et = edges_df.limit(cap + 1).toArrow()
    parents: dict = {}
    for c, p in zip(et.column("commit_sha").to_pylist(),
                    et.column("parent_sha").to_pylist()):
        parents.setdefault(c, []).append(p)
    rows = [
        (start, p, hop)
        for start in starts
        for p, hop in _bfs_hops(parents, start, max_hops).items()
        if hop > 0
    ]
    spark = commit_parents.sparkSession
    return spark.createDataFrame(
        rows, "sha string, ancestor_sha string, hops int"
    )


def ancestors(commit_parents: DataFrame, start_shas: DataFrame,
              max_hops: int = 20) -> DataFrame:
    """All ancestors of ``start_shas`` (column ``sha``) within
    ``max_hops``: returns (sha, ancestor_sha, hops) with the minimal
    hop count per ancestor (BFS order guarantees minimality).

    Lineage discipline (the repo-wide rule for driver-side loops):
    every hop's frontier is EAGERLY localCheckpoint-ed, and the visited
    set is a union of those checkpointed leaves — the plan grows one
    leaf per hop (linear), never by re-expansion of the previous hop's
    un-truncated lineage (geometric — the diameter-32 analysis OOM the
    CC loops below document).  ``isEmpty`` then probes materialized
    blocks instead of re-running the whole walk each hop.  Each
    ancestor row is materialized exactly once (in its discovery hop's
    checkpoint); only an empty final frontier's blocks are freed.

    Bounded inputs take the driver-local BFS twin first
    (:func:`_ancestors_local`, parity-locked); gate failure runs the
    checkpointed frontier loop below unchanged."""
    local = _ancestors_local(commit_parents, start_shas, max_hops)
    if local is not None:
        return local
    spark = commit_parents.sparkSession
    edges = commit_parents.select(
        F.col("commit_sha").alias("child"), F.col("parent_sha").alias("parent")
    ).persist()  # probed once per hop; upstream lineage may be expensive
    frontier, _start_ids = _lazy_checkpoint(
        start_shas.select(
            F.col("sha"), F.col("sha").alias("node"), F.lit(0).alias("hops")
        )
    )
    seen = frontier
    for hop in range(1, max_hops + 1):
        step = (
            frontier.join(edges, frontier["node"] == edges["child"])
            .select("sha", F.col("parent").alias("node"), F.lit(hop).alias("hops"))
            .distinct()
        )
        # keep only nodes not reached at a smaller hop count
        step = step.join(seen.select("sha", "node"), ["sha", "node"], "left_anti")
        # lazy checkpoint + count (r15): the count both materializes
        # the hop's frontier (full pass — the _lazy_checkpoint
        # contract) and answers the emptiness probe, one job per hop
        # instead of the eager-checkpoint + isEmpty pair
        step, step_ids = _lazy_checkpoint(step)
        if step.count() == 0:
            _free_checkpoint(spark, step_ids)
            break
        seen = seen.unionByName(step)
        frontier = step
    edges.unpersist()
    return (
        seen.filter(F.col("hops") > 0)
        .select("sha", F.col("node").alias("ancestor_sha"), "hops")
    )


# Below this many distinct edges the whole component problem fits one
# task and the single-task vectorized labeling beats star contraction's
# multi-round fixed costs (each round = several shuffles + an eager
# checkpoint + two probe jobs — ~1-2s of overhead per round at any
# data size).  The labeling is numpy min-propagation + pointer jumping
# (no per-edge Python loop): 4M edges ≈ two 32 MB int64 arrays plus
# O(V) label arrays, converging in O(log diameter) vectorized rounds —
# seconds of one core, well inside one executor task.  Dedup edge sets
# are SMALL relative to the corpus (only τ-near pairs survive), so
# even 100 TB runs often take this path; the star path remains the
# unbounded fallback.
CC_LOCAL_EDGE_LIMIT = 4_000_000


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst",
                         max_iters: int = 25,
                         local_edge_limit: int = CC_LOCAL_EDGE_LIMIT,
                         ) -> DataFrame:
    """Undirected connected components.  Returns (vertex, component)
    with component = min vertex id reachable.

    Adaptive execution (the AQE-broadcast-switch philosophy applied to
    an iterative algorithm): the deduplicated edge set is materialized
    once (eager localCheckpoint) and counted; at or below
    ``local_edge_limit`` a SINGLE-TASK union-find labels it in one
    pass (executor-side ``mapInPandas``, union-by-min so the root IS
    the component minimum), otherwise the alternating large-star /
    small-star contraction (Kiveris et al., "Connected Components in
    MapReduce and Beyond") runs — O(log n) rounds vs. O(diameter) for
    plain min-label propagation, with the same per-round primitive
    (one equi join + one min aggregation).

    Star rounds: every node u computes m(u) = min of itself and its
    neighbors; large-star rewires u's strictly-larger neighbors to
    m(u), small-star rewires u's smaller neighbors AND u itself to
    m(u).  The edge set monotonically contracts toward stars centered
    on component minima; convergence = the edge set reaches a
    fixpoint.  The loop is driver-side and eager, the data stays
    distributed.  Raises RuntimeError if ``max_iters`` rounds pass
    without a fixpoint (silent non-convergence would return wrong
    labels with no hint — ADVICE r2).  Tests force the star path with
    ``local_edge_limit=0``."""
    spark = edges.sparkSession
    e0 = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    # lazy checkpoint + count (r15): one job materializes the deduped
    # edge set AND sizes the adaptive dispatch
    e, e_ids = _lazy_checkpoint(e0.distinct())
    n_edges = e.count()
    # the single-task path vectorizes over int64 ids; non-integral
    # vertex types (string shas) take the star path at ANY size —
    # otherwise the adaptive switch made the supported input types
    # data-size-dependent (round-6 review finding)
    integral = all(
        f.dataType.simpleString() in ("bigint", "int", "smallint", "tinyint")
        for f in e.schema.fields
    )
    if integral and n_edges <= local_edge_limit:
        return _local_union_find(e)
    labels, _rounds, converged = _star_rounds(
        spark, e, e_ids, n_edges, max_iters
    )
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} "
            "large/small-star rounds; raise max_iters"
        )
    return labels


def _min_labels(a, b):
    """Connected components of the undirected int64 edges ``(a[i],
    b[i])``: returns ``(verts, labels)``, the sorted distinct endpoints
    and, for each, the minimum id of its component.  Fully vectorized:
    per round, every vertex takes the min label across its edges (two
    ``minimum.at`` scatters), then pointer-jumps (``label[label]``) to
    a fixpoint — label paths halve per jump, so rounds are O(log
    diameter) and every round is C-speed numpy (a per-edge Python
    union-find loop would spend minutes at ``CC_LOCAL_EDGE_LIMIT``).
    Labels are vertex indices in ascending-id order, so the converged
    label IS the component minimum — identical to the star path.
    Self-loops and duplicate edges change nothing."""
    import numpy as np

    verts, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    ai, bi = inv[: len(a)], inv[len(a):]
    label = np.arange(len(verts), dtype=np.int64)
    while True:
        prev = label.copy()
        np.minimum.at(label, ai, label[bi])
        np.minimum.at(label, bi, label[ai])
        while True:  # pointer jumping
            nxt = label[label]
            if np.array_equal(nxt, label):
                break
            label = nxt
        if np.array_equal(label, prev):
            break
    return verts, verts[label]


def _local_union_find(e: DataFrame) -> DataFrame:
    """(vertex, component) over the (already checkpointed) ``(a, b)``
    edge frame: :func:`_min_labels` in a single executor task."""

    def uf(batches):
        import numpy as np
        import pandas as pd

        chunks_a, chunks_b = [], []
        for pdf in batches:
            chunks_a.append(pdf["a"].to_numpy(dtype=np.int64))
            chunks_b.append(pdf["b"].to_numpy(dtype=np.int64))
        a = (np.concatenate(chunks_a) if chunks_a
             else np.empty(0, np.int64))
        b = (np.concatenate(chunks_b) if chunks_b
             else np.empty(0, np.int64))
        verts, labels = _min_labels(a, b)
        yield pd.DataFrame({"vertex": verts, "component": labels})

    return e.coalesce(1).mapInPandas(uf, "vertex long, component long")


def _star_components(edges: DataFrame, src: str, dst: str,
                     max_iters: int) -> tuple[DataFrame, int, bool]:
    """(labels, rounds_used, converged) — the star path, always (no
    adaptive switch); kept for the round-count benchmarks in
    tests/test_graph.py."""
    spark = edges.sparkSession
    e0 = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    e, e_ids = _eager_checkpoint(e0.distinct())
    return _star_rounds(spark, e, e_ids, e.count(), max_iters)


def _star_rounds(spark: SparkSession, e: DataFrame, e_ids: list[int],
                 n_edges: int,
                 max_iters: int) -> tuple[DataFrame, int, bool]:
    """Large/small-star contraction over a pre-checkpointed edge set."""
    # each round's edge set is materialized with an EAGER localCheckpoint:
    # unlike persist(), it truncates the logical plan, and star rounds
    # reference their input ~16× (sym twice, mins over sym, small over
    # large over sym...) — without truncation the plan tree grows
    # exponentially per round and Catalyst OOMs on canonicalization
    # before the data is ever touched.  The caller already checkpointed
    # and counted the deduplicated input (`e`, `e_ids`, `n_edges`).
    #
    # vertices of the ORIGINAL graph (star contraction prunes interior
    # edges, so the final labels must re-attach every input vertex) —
    # derived from the CHECKPOINTED edge set: deriving from the raw
    # edges would re-run the whole upstream edge pipeline (e.g. the
    # shingle join feeding dd_dup_clusters) a second time at the final
    # label join.  Eager (not lazy): round 1's checkpoint supersedes
    # the initial edge set and frees its blocks below, so everything
    # that reads them must be materialized first.
    vertices, _vertex_ids = _eager_checkpoint(
        e.select(F.col("a").alias("vertex"))
        .unionByName(e.select(F.col("b").alias("vertex")))
        .distinct()
    )
    converged = False
    rounds = 0

    def _mins(sym: DataFrame) -> DataFrame:
        """m(u) = min(Γ(u) ∪ {u}) — one aggregation over the
        symmetrized edge list."""
        return (
            sym.groupBy("a")
            .agg(F.min("b").alias("__mn"))
            .select("a", F.least(F.col("__mn"), F.col("a")).alias("m"))
        )

    for rounds in range(1, max_iters + 1):
        sym = e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        # large-star: (v, m(u)) for v ∈ Γ(u), v > u
        large = (
            sym.filter(F.col("b") > F.col("a"))
            .join(_mins(sym), "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        sym2 = large.unionByName(
            large.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins2 = _mins(sym2)
        # small-star: (v, m(u)) for v ∈ Γ(u), v < u, plus (u, m(u)).
        # Lazy checkpoint + count (r15): the round's fixpoint count
        # materializes the round's edge set in the same job — one job
        # per round instead of checkpoint + count
        small, small_ids = _lazy_checkpoint(
            sym2.filter(F.col("b") < F.col("a"))
            .join(mins2, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .unionByName(mins2.select("a", F.col("m").alias("b")))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        new_n = small.count()
        # fixpoint ⇔ same distinct edge set: equal cardinality AND
        # new ⊆ old (one anti-join, no full except-both-ways)
        same = (
            new_n == n_edges
            and small.join(e, ["a", "b"], "left_anti").isEmpty()
        )
        # this round's checkpoint supersedes the previous edge set —
        # free its blocks now (vertices was materialized up front)
        _free_checkpoint(spark, e_ids)
        e, e_ids, n_edges = small, small_ids, new_n
        if same:
            converged = True
            break

    # at the fixpoint every edge is (member, component-min); isolated
    # original vertices (fully contracted or never present) label
    # themselves
    star_min = e.groupBy("a").agg(F.min("b").alias("__c"))
    labels = (
        vertices.join(star_min, vertices["vertex"] == star_min["a"], "left")
        .select(
            "vertex",
            F.coalesce(F.col("__c"), F.col("vertex")).alias("component"),
        )
    )
    return labels, rounds, converged


def min_label_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst",
                         max_iters: int = 25) -> DataFrame:
    """Undirected connected components by plain min-label propagation
    — kept as the O(diameter)-round baseline the star variant is
    benchmarked against (tests/test_graph.py).  Raises RuntimeError on
    non-convergence instead of returning wrong labels silently."""
    labels, _rounds, converged = _min_label_components(
        edges, src, dst, max_iters
    )
    if not converged:
        raise RuntimeError(
            f"min_label_components did not converge in {max_iters} "
            "propagation rounds; raise max_iters"
        )
    return labels


def _min_label_components(edges: DataFrame, src: str, dst: str,
                          max_iters: int) -> tuple[DataFrame, int, bool]:
    """(labels, propagation_rounds, converged): every vertex starts
    labelled with itself; each round takes the min of its own label
    and its neighbors' (one edge⋈label equi join + one min aggregation
    per round) until a fixpoint.  Rounds needed = graph diameter."""
    # drop self-loops like connected_components does, so the two
    # public CC faces compute the same result relation on the same
    # input (round-6 review finding)
    und = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    # cache the symmetrized edge list: every propagation round joins
    # against it, and its lineage may be arbitrarily expensive
    # (e.g. the shingle join feeding dd_dup_clusters)
    und = (
        und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .distinct()
        .persist()
    )
    labels = (
        und.select(F.col("a").alias("vertex")).distinct()
        .withColumn("component", F.col("vertex"))
    )

    def _step(lbl: DataFrame, with_old: bool) -> DataFrame:
        msgs = und.join(lbl, und["a"] == lbl["vertex"]).select(
            F.col("b").alias("vertex"), "component",
            F.lit(False).alias("is_self"))
        unioned = lbl.select(
            "vertex", "component", F.lit(True).alias("is_self")
        ).unionByName(msgs)
        aggs = [F.min("component").alias("component")]
        if with_old:
            # fold convergence detection into the SAME aggregation
            # pass: the self row carries the previous label, so one
            # count() both materializes the labels and reports how
            # many moved — no separate comparison join
            aggs.append(
                F.max(F.when(F.col("is_self"), F.col("component"))).alias("__old")
            )
        return unioned.groupBy("vertex").agg(*aggs)

    converged = False
    rounds = 0
    spark = edges.sparkSession
    prev_ids: list[int] = []
    for _ in range(max_iters):
        # TWO propagation rounds per materialized action: the first is
        # chained lazily, only the second carries the convergence
        # columns.  If round 2 moved nothing its input was already a
        # fixpoint, so detection stays exact while the job count (the
        # dominant per-round cost on small graphs) halves.
        #
        # Each materialized round is an EAGER localCheckpoint, not a
        # persist: _step references its input labels twice (self row +
        # messages), so without lineage truncation the logical plan
        # doubles per round — a diameter-32 path graph OOMs the driver
        # during analysis before any data moves.  The previous round's
        # checkpoint blocks are freed as soon as the new round is
        # materialized (ADVICE r4: deterministic storage, like the
        # persist/unpersist discipline this replaced).
        mid = _step(labels, with_old=False)
        # lazy checkpoint (r15): the convergence count materializes
        # the round — one job per materialized round, not two
        new_labels, new_ids = _lazy_checkpoint(_step(mid, with_old=True))
        n_changed = new_labels.filter(
            F.col("component") != F.col("__old")
        ).count()
        rounds += 2
        _free_checkpoint(spark, prev_ids)
        prev_ids = new_ids
        labels = new_labels.select("vertex", "component")
        if n_changed == 0:
            converged = True
            break
    und.unpersist()
    return labels, rounds, converged


def merge_commits(commit_parents: DataFrame) -> DataFrame:
    """Commits with ≥2 parents (merge nodes of the DAG)."""
    return (
        commit_parents.groupBy(F.col("commit_sha").alias("sha"))
        .agg(F.count(F.lit(1)).alias("n_parents"))
        .filter(F.col("n_parents") >= 2)
    )


def component_merge_plan(
    assign: DataFrame, new_edges: DataFrame,
    src: str = "src", dst: str = "dst",
) -> tuple[DataFrame, DataFrame | None]:
    """The delivery-bounded maintenance plan behind
    :func:`components_delta`, exposed so a bucketed writer can apply
    it partition-pruned: returns ``(fresh, relabel)`` where ``fresh``
    holds singleton rows for vertices the assignment has never seen
    and ``relabel`` is the (component, merged) map of this delivery's
    merges (``None`` when nothing merges).  Everything here is bounded
    by the delivery — the quotient CC, the union-find, the map.

    Incremental connected-components maintenance under an edge
    delivery — the cluster-side completion of the maintained-index
    family (``dedup.minhash_band_delta`` produces the pair deltas;
    this folds them into the cluster assignment without re-running CC
    over the full edge history).

    ``assign`` is the maintained (vertex, component) frame with the
    module's min-vertex-id labeling invariant; ``new_edges`` is the
    delivery.  Components only ever MERGE under edge additions, so the
    delta reduces to components of the QUOTIENT graph: map each
    arriving endpoint to its current component (unknown vertices are
    their own), keep the edges whose endpoints disagree — a frame
    bounded by the delivery, never the history — and run
    :func:`connected_components` on those component ids.  Because
    every maintained label IS its component's minimum vertex id, the
    quotient labels are the merged components' minima, and one
    broadcast relabel join restores the invariant.

    Scale shape: per-delivery compute is two endpoint-resolution joins
    (delivery-sized probes of the assignment) plus CC over the
    delivery-bounded quotient; the relabel pass is a broadcast join
    touching every assignment row but shuffling none — and since only
    rows in the (small) relabel map change, a 100 TB deployment's
    writer rewrites only the merged components' partitions.  Exactness
    (any base + delivery split equals the from-scratch build) is
    locked by ``tests/test_graph.py``."""
    # the delivery edge frame is referenced by FOUR downstream plans
    # (both verts legs, both endpoint-resolution joins); an unpersisted
    # delta plan upstream (e.g. a pair-delta join pipeline) would
    # re-execute once per reference — eagerly checkpoint it up front,
    # which is cheap BY CONTRACT (the frame is delivery-bounded), and
    # freed before returning once fresh/relabel are materialized.
    e, _e_ids = _eager_checkpoint(
        new_edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
            F.col("a") != F.col("b")
        )
    )
    verts = (
        e.select(F.col("a").alias("vertex"))
        .unionByName(e.select(F.col("b").alias("vertex")))
        .distinct()
    )
    fresh = verts.join(assign, "vertex", "left_anti").select(
        "vertex", F.col("vertex").alias("component")
    )
    assign_all = assign.unionByName(fresh)
    ca = assign_all.select(
        F.col("vertex").alias("a"), F.col("component").alias("comp_a")
    )
    cb = assign_all.select(
        F.col("vertex").alias("b"), F.col("component").alias("comp_b")
    )
    quot = (
        e.join(ca, "a")
        .join(cb, "b")
        .filter(F.col("comp_a") != F.col("comp_b"))
        .select(F.col("comp_a").alias("src"), F.col("comp_b").alias("dst"))
    )
    spark = assign.sparkSession
    relabel = _quotient_relabel(spark, quot)
    # materialize the (delivery-bounded) fresh rows, then free the
    # delivery checkpoint blocks: relabel is already independent of
    # them (re-checkpointed), so nothing returned derives from e and a
    # caller folding a stream of deliveries must not accumulate pinned
    # blocks per delivery — the same discipline as the pruned variant
    # below.
    fresh, _f_ids = _eager_checkpoint(fresh)
    _free_checkpoint(spark, _e_ids)
    return fresh, relabel


def _quotient_relabel(spark, quot: DataFrame) -> DataFrame | None:
    """Quotient edges → (component, merged) relabel map, or ``None``
    when nothing merges.  The dedup checkpoint is lazy and the count it
    needs anyway materializes it (one job), and the CC machinery runs
    inline on the already-distinct, already-checkpointed quotient —
    calling ``connected_components`` would re-pay a distinct shuffle,
    checkpoint and count on a frame that just had all three."""
    quot, quot_ids = _lazy_checkpoint(
        quot.filter(F.col("src") != F.col("dst")).distinct()
    )
    n_quot = quot.count()
    if n_quot == 0:
        _free_checkpoint(spark, quot_ids)
        return None
    # connected_components' adaptive dispatch, inlined over the
    # checkpointed quotient (same integral-types rule and the same
    # single-task/star split; results identical — distinct of a
    # distinct frame)
    integral = all(
        f.dataType.simpleString()
        in ("bigint", "int", "smallint", "tinyint")
        for f in quot.schema.fields
    )
    edges = quot.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    if integral and n_quot <= CC_LOCAL_EDGE_LIMIT:
        labels = _local_union_find(edges)
    else:
        labels, _rounds, converged = _star_rounds(
            spark, edges, quot_ids, n_quot, 25,
        )
        if not converged:
            raise RuntimeError(
                "connected_components did not converge in 25 "
                "large/small-star rounds; raise max_iters"
            )
    relabel = (
        labels
        .filter(F.col("vertex") != F.col("component"))
        .select(
            F.col("vertex").alias("component"),
            F.col("component").alias("merged"),
        )
    )
    # the relabel map is small (merged components only): pin it, then
    # free the quotient checkpoint blocks so a stream of deliveries
    # pins nothing per delivery
    relabel, _relabel_ids = _eager_checkpoint(relabel)
    _free_checkpoint(spark, quot_ids)
    return relabel


def components_delta(assign: DataFrame, new_edges: DataFrame,
                     src: str = "src", dst: str = "dst") -> DataFrame:
    """Fold an edge delivery into the maintained (vertex, component)
    assignment: :func:`component_merge_plan` for the delivery-bounded
    work, then one broadcast relabel join over the assignment (the
    full-rewrite application; a deployment applies the same map
    partition-pruned via :func:`relabel_affected_buckets`)."""
    fresh, relabel = component_merge_plan(assign, new_edges, src, dst)
    assign_all = assign.unionByName(fresh)
    if relabel is None:
        return assign_all
    return (
        assign_all.join(F.broadcast(relabel), "component", "left")
        .select(
            "vertex",
            F.coalesce("merged", "component").alias("component"),
        )
    )


# --- bucketed assignment layout: the partition-pruned relabel seam ---

ASSIGN_C_BUCKETS = 64


def write_component_assign(assign: DataFrame, out_dir: str,
                           buckets: int = ASSIGN_C_BUCKETS) -> str:
    """Materialize the maintained assignment in the layout a
    deployment actually rewrites: parquet partitioned by
    ``c_bucket = pmod(xxhash64(component), buckets)``.  A delivery's
    relabel map touches a handful of components, so the rewrite reads
    (and replaces) only their buckets — partition pruning, the same
    seam as ``dedup.write_span_postings``.  Repartitioned ON the
    bucket key before the write so each bucket holds one file per
    job, not one per writer task (the span layout's measured
    file-fanout lesson)."""
    (
        assign.withColumn("c_bucket", _bucket_expr("component", buckets))
        .repartition(F.col("c_bucket"))
        .write.mode("overwrite")
        .partitionBy("c_bucket")
        .parquet(out_dir)
    )
    return out_dir


def _assign_rel(spark, rel_or_dir) -> DataFrame:
    """Accept either a parquet path or an already-resolved relation
    (e.g. ``spark.table(...)``).  A CATALOG-BACKED table is the shape
    a deployment holds: partition pruning then consults partition
    METADATA instead of walking the whole bucket directory tree —
    measured ~10x cheaper at 2000 buckets, and the gap grows with the
    table (the listing is O(buckets), the catalog lookup O(touched))."""
    return (
        spark.read.parquet(rel_or_dir)
        if isinstance(rel_or_dir, str)
        else rel_or_dir
    )


def _bucket_expr(col: str, buckets: int):
    """THE bucket function, single-sourced: writers partition by it
    and readers prune by it — a drift between the two would silently
    select the wrong partitions."""
    return F.pmod(F.xxhash64(F.col(col)), F.lit(buckets)).cast("int")


# xxHash64 primes (public algorithm constants, Y. Collet's xxHash)
_XXP1 = 0x9E3779B185EBCA87
_XXP2 = 0xC2B2AE3D27D4EB4F
_XXP3 = 0x165667B19E3779F9
_XXP4 = 0x85EBCA77C2B2AE63
_XXP5 = 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _xxh64_long(value: int, seed: int = 42) -> int:
    """``F.xxhash64`` of ONE BIGINT value, driver-side: the standard
    XXH64 single-8-byte-lane path with Spark's default seed 42,
    returned as a signed 64-bit int exactly like the SQL function.
    Exists so the local fold's bucket ids (endpoints, relabel maps,
    fresh rows — bounded by contract) cost zero Spark jobs; parity
    with the JVM expression is property-locked in tests/test_graph.py,
    and
    :func:`_bucket_expr` remains the single source of truth for
    anything distributed."""
    h = (seed + _XXP5 + 8) & _M64
    k = ((value & _M64) * _XXP2) & _M64
    k = ((k << 31) | (k >> 33)) & _M64
    h ^= (k * _XXP1) & _M64
    h = ((((h << 27) | (h >> 37)) & _M64) * _XXP1 + _XXP4) & _M64
    h ^= h >> 33
    h = (h * _XXP2) & _M64
    h ^= h >> 29
    h = (h * _XXP3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >= (1 << 63) else h


def _py_bucket(value: int, buckets: int) -> int:
    """Driver-side twin of :func:`_bucket_expr` for integral keys
    (Python ``%`` on a positive modulus IS pmod)."""
    return _xxh64_long(value) % buckets


def _bucket_ids(df: DataFrame, cols, buckets: int) -> list[int]:
    """Distinct bucket ids of one or more key columns, in ONE job.
    ``collect_set`` instead of ``distinct().collect()``: partial
    aggregation dedupes map-side, so each task ships ≤ ``buckets``
    values and the driver receives one ≤ ``buckets``-sized array —
    bounded by the BUCKET COUNT even when the frame is not delivery-
    bounded (e.g. the changed-row set of a large-component merge),
    and without the full shuffle a ``distinct`` pays."""
    exprs = [_bucket_expr(c, buckets) for c in cols]
    row = df.select(
        F.explode(F.array(*exprs)).alias("b")
    ).agg(F.collect_set("b").alias("bs")).first()
    return sorted(row.bs or [])


def relabel_affected_buckets(spark, assign_rel, relabel: DataFrame,
                             buckets: int = ASSIGN_C_BUCKETS) -> DataFrame:
    """The rows a delivery's relabel map CHANGES, read partition-
    pruned: resolve the map's c_buckets (bounded by the map, which is
    bounded by the delivery), push the IN-list as a PartitionFilter,
    inner-join the broadcast map.  This is the change-set probe (what
    the bench's delta arm and an audit query consume) — it is NOT a
    partition-replacement recipe: old buckets also hold co-located
    rows of untouched components, and the merged targets' buckets
    gain rows.  The writer that replaces partitions correctly is
    :func:`apply_relabel_in_place`."""
    bkts = _bucket_ids(relabel, ["component"], buckets)
    scan = _assign_rel(spark, assign_rel).filter(
        F.col("c_bucket").isin(bkts)
    )
    return scan.join(F.broadcast(relabel), "component").select(
        "vertex", F.col("merged").alias("component")
    )


def _write_tasks(n_buckets: int) -> int:
    """Writer-task count for a partition-pruned rewrite: ~16 output
    files (= touched buckets) per task.  The touched set is delivery-
    bounded and buckets are size-bounded, so per-task volume stays
    flat at any history size; a task-per-shuffle-partition layout
    (measured 1.2 s vs 0.5 s per rewrite at 64 buckets) pays 32 task
    setups to write a delivery-sized change, and an AQE REBALANCE
    costs an extra stage that outweighs the coalesce on frames this
    small."""
    return max(1, -(-n_buckets // 16))


# The assignment layouts' data columns as the local fold reads and
# writes them (the Spark writer's two-column int64 output).
_ASSIGN_COLS = ("vertex", "component")
_ASSIGN_FIELDS = tuple((c, pa.int64()) for c in _ASSIGN_COLS)


def _sync_catalog_partitions(spark, table_name: str, pcol: str,
                             added, dropped) -> None:
    """Keep a catalog-registered layout's partition METADATA in step
    with the path-based writers: a write to the LOCATION creates and
    empties directories the metastore never hears about, so a
    catalog-pruned read would miss a fresh bucket or touch a dropped
    one.  Both lists are bounded by the delivery, and each folds into
    ONE multi-partition ALTER statement (never MSCK's O(buckets)
    re-listing; the one-statement-per-bucket form cost ~11 ms × 64
    churning buckets × deliveries — measured 1.8 s of the x15
    lifecycle before batching)."""
    if added:
        specs = " ".join(
            f"PARTITION ({pcol}={int(b)})" for b in sorted(added)
        )
        spark.sql(
            f"ALTER TABLE {table_name} ADD IF NOT EXISTS {specs}"
        )
    if dropped:
        specs = ", ".join(
            f"PARTITION ({pcol}={int(b)})" for b in sorted(dropped)
        )
        spark.sql(f"ALTER TABLE {table_name} DROP IF EXISTS {specs}")


def apply_relabel_in_place(spark, assign_dir: str,
                           relabel: DataFrame | None,
                           buckets: int = ASSIGN_C_BUCKETS,
                           fresh: DataFrame | None = None,
                           assign_rel=None,
                           table_name: str | None = None,
                           return_changes: bool = False
                           ) -> DataFrame | None:
    """The component-layout stage of the distributed fold: apply a
    delivery's merge plan — both halves of a merge plan's return —
    to the component-bucketed assignment in place, rewriting ONLY the
    affected partitions (dynamic partition overwrite).  Relabeled rows
    move to their merged component's bucket, and ``fresh``
    (never-seen) vertices land in their post-relabel component's
    bucket (a fresh vertex can itself be merged by the same delivery),
    so the touched set is the map's old ∪ new buckets ∪ the fresh
    rows' buckets — all bounded by the delivery.  Untouched
    partitions' files are never opened or replaced (mtime-locked in
    tests).

    A bucket whose every row moved away produces no output rows, and
    dynamic overwrite only replaces partitions PRESENT in the output,
    so the emptied bucket's directory is dropped directly.  When the
    layout is also a catalog table, ``table_name`` makes the stage
    run ``ALTER TABLE .. ADD/DROP PARTITION`` for the buckets it
    wrote or emptied, so catalog-pruned readers stay consistent with
    the directory tree.

    With ``return_changes=True`` the stage also returns the delivery's
    change set for the vertex projection — relabeled rows with their
    merged labels, plus fresh rows after this delivery's own merges —
    derived from the SAME pruned scan and checkpoint the rewrite uses
    (a flag column), so the two projections pay one partition-pruned
    read.  It returns None when the delivery changes nothing."""
    import os
    import shutil

    fresh_rows = None
    if fresh is not None:
        fresh_rows = fresh
        if relabel is not None:
            fresh_rows = fresh.join(
                F.broadcast(relabel), "component", "left"
            ).select(
                "vertex",
                F.coalesce("merged", "component").alias("component"),
            )
        # lazy checkpoint + count: one job materializes the merged
        # fresh rows AND answers the emptiness probe
        fresh_rows = fresh_rows.localCheckpoint(eager=False)
        if fresh_rows.count() == 0:
            fresh_rows = None
    if relabel is None and fresh_rows is None:
        return None
    # touched buckets: union the key columns FIRST so the bounded
    # collect is ONE job total, not one per frame
    keys = []
    if relabel is not None:
        keys.append(relabel.select(F.col("component").alias("k")))
        keys.append(relabel.select(F.col("merged").alias("k")))
    if fresh_rows is not None:
        keys.append(fresh_rows.select(F.col("component").alias("k")))
    kdf = keys[0]
    for part in keys[1:]:
        kdf = kdf.unionByName(part)
    bkts = _bucket_ids(kdf, ["k"], buckets)

    updated = _assign_rel(spark, assign_rel or assign_dir).filter(
        F.col("c_bucket").isin(bkts)
    ).select("vertex", "component")
    if relabel is not None:
        updated = updated.join(
            F.broadcast(relabel), "component", "left"
        ).select(
            "vertex",
            F.coalesce("merged", "component").alias("component"),
            F.col("merged").isNotNull().alias("_chg"),
        )
    else:
        updated = updated.withColumn("_chg", F.lit(False))
    if fresh_rows is not None:
        updated = updated.unionByName(
            fresh_rows.withColumn("_chg", F.lit(True))
        )
    updated = updated.withColumn(
        "c_bucket", _bucket_expr("component", buckets)
    )
    # cut lineage from the files about to be replaced — a LAZY mark:
    # the present-buckets collect below is a full pass, so it
    # materializes the checkpoint in the same job
    rows = updated.localCheckpoint(eager=False)
    present = {r.b for r in rows.select(
        F.col("c_bucket").alias("b")).distinct().collect()}
    (
        rows.drop("_chg")
        .repartition(_write_tasks(len(bkts)), F.col("c_bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("c_bucket")
        .parquet(assign_dir)
    )
    emptied = set(bkts) - present
    for b in emptied:
        d = os.path.join(assign_dir, f"c_bucket={b}")
        if os.path.isdir(d):
            shutil.rmtree(d)
    if table_name is not None:
        _sync_catalog_partitions(
            spark, table_name, "c_bucket", added=present, dropped=emptied
        )
    if return_changes:
        return rows.filter(F.col("_chg")).select("vertex", "component")
    return None


# The assignment's PRIMARY layout is keyed by vertex (it is the
# table's key): bucket count scales with the table so bucket SIZE
# stays constant, and a delivery's endpoint lookups read
# ≤|delivery vertices| buckets of constant size — flat in the history
# once the table outgrows |delivery| × bucket_size.  The
# component-bucketed layout above is the secondary projection the
# relabel writer rewrites.
ASSIGN_ROWS_PER_BUCKET = 2000


def write_vertex_assign(assign: DataFrame, out_dir: str,
                        buckets: int) -> str:
    """Materialize the maintained assignment keyed by vertex:
    parquet partitioned by ``v_bucket = pmod(xxhash64(vertex),
    buckets)``.  Callers size ``buckets`` to the table
    (``n_rows // ASSIGN_ROWS_PER_BUCKET``) so bucket size — and with
    it per-lookup IO — is constant at any history size."""
    (
        assign.withColumn("v_bucket", _bucket_expr("vertex", buckets))
        .repartition(F.col("v_bucket"))
        .write.mode("overwrite")
        .partitionBy("v_bucket")
        .parquet(out_dir)
    )
    return out_dir


def resolve_assign_pruned(spark, assign_rel, verts: DataFrame,
                          buckets: int) -> DataFrame:
    """(vertex, component) rows for the given vertices, reading ONLY
    the v_buckets they land in: the bucket IN-list (bounded by the
    delivery) reaches the scan as a PartitionFilter, then a broadcast
    semi-join keeps the looked-up rows.  Vertices absent from the
    table simply return no row (the caller treats them as fresh)."""
    bkts = _bucket_ids(verts, ["vertex"], buckets)
    scan = _assign_rel(spark, assign_rel).filter(
        F.col("v_bucket").isin(bkts)
    )
    return scan.join(F.broadcast(verts), "vertex").select(
        "vertex", "component"
    )


def component_merge_plan_pruned(
    spark, vertex_rel, new_edges: DataFrame, buckets: int,
    src: str = "src", dst: str = "dst",
) -> tuple[DataFrame, DataFrame | None]:
    """The merge-plan stage of the distributed fold:
    :func:`component_merge_plan` against the PERSISTED vertex-bucketed
    assignment instead of an in-memory frame.  Endpoint resolution
    becomes partition-pruned point lookups (the in-memory plan's two
    resolution joins and the fresh-vertex anti-join each scan the
    whole assignment — fine when it is a cached frame, wrong when it
    is a 100 TB table).  Same return contract, same quotient CC,
    value-identical relabel map (parity-locked in
    tests/test_graph.py).

    Consistency contract: the vertex layout must reflect the SAME
    table version as the component layout the relabel is applied to.
    :func:`fold_components_delivery` updates both projections per
    delivery; resolving against a stale vertex projection after an
    unapplied merge yields relabel keys that no longer exist in the
    table."""
    e0 = new_edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).filter(F.col("a") != F.col("b"))
    # lazy checkpoints: e materializes inside the endpoint probe's
    # bucket-list collect (its first full pass), resolved inside the
    # quotient count / fresh checkpoint; both blocks are freed below
    # once everything derived from them is materialized
    e, _e_ids = _lazy_checkpoint(e0)
    verts = (
        e.select(F.col("a").alias("vertex"))
        .unionByName(e.select(F.col("b").alias("vertex")))
        .distinct()
    )
    resolved, _r_ids = _lazy_checkpoint(
        resolve_assign_pruned(spark, vertex_rel, verts, buckets)
    )
    fresh = verts.join(resolved, "vertex", "left_anti").select(
        "vertex", F.col("vertex").alias("component")
    )
    lookup = resolved.unionByName(fresh)
    ca = lookup.select(
        F.col("vertex").alias("a"), F.col("component").alias("comp_a")
    )
    cb = lookup.select(
        F.col("vertex").alias("b"), F.col("component").alias("comp_b")
    )
    quot = (
        e.join(F.broadcast(ca), "a")
        .join(F.broadcast(cb), "b")
        .filter(F.col("comp_a") != F.col("comp_b"))
        .select(F.col("comp_a").alias("src"),
                F.col("comp_b").alias("dst"))
    )
    relabel = _quotient_relabel(spark, quot)
    # materialize the (delivery-bounded) fresh rows, then free the
    # intermediate checkpoint blocks: relabel is already independent
    # of them (re-checkpointed), so nothing returned derives from
    # e/resolved and a per-delivery caller accumulates no pinned blocks
    fresh, _f_ids = _eager_checkpoint(fresh)
    _free_checkpoint(spark, _e_ids + _r_ids)
    return fresh, relabel


def apply_changes_vertex_layout(spark, vertex_dir: str,
                                changed: DataFrame,
                                buckets: int,
                                vertex_rel=None,
                                table_name: str | None = None) -> None:
    """The vertex-layout stage of the distributed fold: upsert the
    delivery's changed rows (vertex, component) into the
    vertex-bucketed PRIMARY projection, reading and rewriting only the
    v_buckets those vertices land in.  Rows never change bucket (the
    key is the vertex) and never disappear, so there is no
    emptied-bucket edge here; fresh vertices are plain inserts into
    their bucket — which can CREATE a bucket directory, so when the
    layout is catalog-registered pass ``table_name`` and the stage
    registers the touched partitions (ADD IF NOT EXISTS, bounded by
    the delivery).

    Contract: ``changed`` must be MATERIALIZED (checkpoint-backed or
    a local relation) — the stage consumes it twice (bucket probe,
    broadcast upsert) while overwriting v_bucket files, so a lazy
    lineage THROUGH this layout would re-read files being replaced.
    :func:`apply_relabel_in_place`'s returned rows are
    checkpoint-backed, and an empty change set ends at the bucket
    probe."""
    bkts = _bucket_ids(changed, ["vertex"], buckets)
    if not bkts:
        return
    upd = F.broadcast(changed.select(
        "vertex", F.col("component").alias("new_component")
    ))
    existing = _assign_rel(spark, vertex_rel or vertex_dir).filter(
        F.col("v_bucket").isin(bkts)
    ).select("vertex", "component")
    merged = existing.join(upd, "vertex", "full_outer").select(
        "vertex",
        F.coalesce("new_component", "component").alias("component"),
    ).withColumn("v_bucket", _bucket_expr("vertex", buckets))
    # LAZY mark: plan truncation at mark time is what breaks the
    # self-overwrite cycle; the write itself is the full-pass action
    # that materializes the blocks (deletes only commit after the job,
    # so tasks — including retries — always read intact files).  One
    # job instead of eager checkpoint + write.
    rows = merged.localCheckpoint(eager=False)
    (
        rows.repartition(_write_tasks(len(bkts)), F.col("v_bucket"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("v_bucket")
        .parquet(vertex_dir)
    )
    if table_name is not None:
        _sync_catalog_partitions(
            spark, table_name, "v_bucket", added=bkts, dropped=()
        )


def _fold_local(spark, cdir: str, vdir: str, edges, buckets: int,
                ctable: str | None, vtable: str | None) -> bool:
    """The local fold of :func:`fold_components_delivery`: Python and
    file IO on the driver, no Spark job.  Every read comes before any
    write:

    1. the endpoints' v_buckets (their standing labels);
    2. the union-find over the quotient graph (:func:`_min_labels`),
       the relabel map and the fresh rows, computed from those labels;
    3. the touched c_buckets (the map's old and new labels, the fresh
       rows' labels);
    4. the changed vertices' v_buckets.

    Each read is :func:`bucketed.read_rows` under
    ``WRITER_LOCAL_ROW_MAX``; a failed gate returns False with both
    layouts untouched, and the caller runs the distributed chain on
    the same inputs.  Then it writes the c layout, the v layout,
    refreshes Spark's cached listings of both paths and syncs the
    catalog partitions.  Returns True once the delivery is folded."""
    import numpy as np

    cap = placement.CAPS["WRITER_LOCAL_ROW_MAX"]
    pairs = {(a, b) for a, b in edges if a != b}
    if not pairs:
        return True
    verts = sorted({v for ab in pairs for v in ab})
    vdata = bucketed.read_rows(
        vdir, "v_bucket", sorted({_py_bucket(v, buckets) for v in verts}),
        _ASSIGN_COLS, cap,
    )
    if vdata is None:
        return False
    want = set(verts)
    look = {v: c for brows in vdata.values() for v, c in brows if v in want}
    fresh = [v for v in verts if v not in look]
    look.update((v, v) for v in fresh)
    quot = [(look[a], look[b]) for a, b in pairs if look[a] != look[b]]
    relmap: dict = {}
    if quot:
        qv, ql = _min_labels(*np.array(quot, dtype=np.int64).T)
        relmap = {v: c for v, c in zip(qv.tolist(), ql.tolist()) if v != c}
    fresh_rows = [(v, relmap.get(v, v)) for v in fresh]
    if not relmap and not fresh_rows:
        return True
    cbkts = sorted({
        _py_bucket(k, buckets)
        for k in (*relmap, *relmap.values(), *(c for _, c in fresh_rows))
    })
    cdata = bucketed.read_rows(cdir, "c_bucket", cbkts, _ASSIGN_COLS, cap)
    if cdata is None:
        return False
    # every touched c_bucket starts empty: one that ends empty has its
    # directory dropped by write_buckets
    c_new: dict[int, list] = {b: [] for b in cbkts}
    changes = []
    for brows in cdata.values():
        for v, c in brows:
            if c in relmap:
                c = relmap[c]
                changes.append((v, c))
            c_new[_py_bucket(c, buckets)].append((v, c))
    for v, c in fresh_rows:
        changes.append((v, c))
        c_new[_py_bucket(c, buckets)].append((v, c))
    upd = dict(changes)
    vbkts = sorted({_py_bucket(v, buckets) for v in upd})
    vold = bucketed.read_rows(vdir, "v_bucket", vbkts, _ASSIGN_COLS, cap)
    if vold is None:
        return False
    stored = {v for brows in vold.values() for v, _ in brows}
    v_new = {b: [(v, upd.get(v, c)) for v, c in vold[b]] for b in vbkts}
    for v, c in upd.items():
        if v not in stored:
            v_new[_py_bucket(v, buckets)].append((v, c))

    bucketed.write_buckets(cdir, "c_bucket", c_new, _ASSIGN_FIELDS)
    bucketed.write_buckets(vdir, "v_bucket", v_new, _ASSIGN_FIELDS)
    # Spark's own insert command refreshes cached file listings for
    # the destination path; the driver-side writes must do the same
    # or a catalog/path read could serve the replaced files' names
    spark.catalog.refreshByPath(cdir)
    spark.catalog.refreshByPath(vdir)
    if ctable is not None:
        present = {b for b, rows in c_new.items() if rows}
        _sync_catalog_partitions(spark, ctable, "c_bucket",
                                 added=present,
                                 dropped=set(cbkts) - present)
    if vtable is not None:
        _sync_catalog_partitions(spark, vtable, "v_bucket",
                                 added=vbkts, dropped=())
    return True


def fold_components_delivery(spark, cdir: str, vdir: str, edges,
                             buckets: int, ctable: str | None = None,
                             vtable: str | None = None) -> None:
    """Fold one edge delivery into the maintained cluster assignment,
    held as two bucketed parquet layouts: ``cdir`` partitioned by
    ``c_bucket`` (of the component) and ``vdir`` by ``v_bucket`` (of
    the vertex), both bucketed ``buckets`` ways.  Components only
    merge under edge additions, so a delivery relabels the merged
    components' rows and inserts its never-seen vertices; after the
    fold both layouts equal connected components over the history
    plus the delivery, with every label its component's minimum id.

    ``edges`` is the delivery: a DataFrame with ``src``/``dst``
    columns, or already-collected ``(src, dst)`` bigint rows.
    ``ctable``/``vtable`` name catalog tables registered over the
    layouts, if any: the fold keeps their partition metadata in step
    with the bucket directories it creates or empties, and the
    distributed chain reads the layouts through them.

    Placement is decided once per delivery.  The local fold
    (:func:`_fold_local`) runs when its gates hold: bigint keys, both
    layouts local directories, at most ``QUOTIENT_LOCAL_EDGE_MAX``
    edges that are not self-loops (one guarded ``limit(cap + 1)``
    collect of a DataFrame delivery, none at cap 0), and every bucket
    read under ``WRITER_LOCAL_ROW_MAX`` rows.  It schedules no Spark
    job.  Otherwise the distributed chain runs on the same inputs:
    :func:`component_merge_plan_pruned`, :func:`apply_relabel_in_place`
    and :func:`apply_changes_vertex_layout`."""
    import os

    cap = placement.CAPS["QUOTIENT_LOCAL_EDGE_MAX"]
    rows = None
    if isinstance(edges, DataFrame):
        bigint = all(edges.schema[c].dataType.simpleString() == "bigint"
                     for c in ("src", "dst"))
        if (bigint and cap > 0
                and os.path.isdir(cdir) and os.path.isdir(vdir)):
            # a Row collect, not bounded_arrow: a limited collect() and
            # a limited toArrow() schedule differently
            probe = edges.select("src", "dst").filter(
                F.col("src") != F.col("dst")
            ).limit(cap + 1).collect()
            if len(probe) <= cap:
                rows = [tuple(r) for r in probe]
    else:
        edges = list(edges)
        if (os.path.isdir(cdir) and os.path.isdir(vdir)
                and sum(a != b for a, b in edges) <= cap):
            rows = edges
    if rows is not None and _fold_local(spark, cdir, vdir, rows, buckets,
                                        ctable, vtable):
        return
    if not isinstance(edges, DataFrame):
        edges = spark.createDataFrame(edges, "src long, dst long")
    vrel = spark.table(vtable) if vtable is not None else vdir
    fresh, relabel = component_merge_plan_pruned(
        spark, vrel, edges, buckets
    )
    changed = apply_relabel_in_place(
        spark, cdir, relabel, buckets=buckets, fresh=fresh,
        assign_rel=spark.table(ctable) if ctable is not None else None,
        table_name=ctable, return_changes=True,
    )
    if changed is not None:
        apply_changes_vertex_layout(spark, vdir, changed, buckets,
                                    vertex_rel=vrel, table_name=vtable)


# --- fixed-iteration PageRank (integer arithmetic) -------------------

# Node-id encoding for the bipartite supplier⇄part graph: parts are
# offset into a disjoint id range so one BIGINT key serves both
# partitions of the graph (no string concat in the join keys).
PR_PART_OFFSET = 1_000_000_000
PR_ITERS = 3
PR_SCALE = 1_000_000          # pr is held in integer micro-units
PR_JUMP = 150_000             # (1 - 0.85) * PR_SCALE
PR_TOP_K = 20


def _pagerank_local(edges: DataFrame, iters: int) -> DataFrame | None:
    """Driver-local twin of :func:`pagerank_fixed`: one bounded Arrow
    collect of the edge list (no COUNT pre-gate), then the integer
    rounds as numpy factorize + bincount passes — value-identical to
    the distributed join/groupBy rounds INCLUDING the drop-out
    semantics (a node that receives no contribution leaves the rank
    frame; its later contributions vanish with it).  Integer exactness
    holds end-to-end: contributions are int64 floor-divs and the
    per-dst sums stay far under 2**53, so the bincount accumulation
    is exact.  Returns None on a failed gate (row cap, non-int64
    keys); the distributed rounds run unchanged — the path a
    1000-executor corpus takes."""
    import numpy as np
    import pyarrow as pa

    # ONE guarded collect (no COUNT pre-gate): the edge frame is
    # typically a corpus DISTINCT, so a separate gate job would pay
    # that shuffle twice — the over-cap penalty (shipping cap+1 rows
    # once) is cheaper than doubling the under-cap path's only scan
    t = placement.bounded_arrow(edges.select("src", "dst"),
                                placement.CAPS["PR_LOCAL_EDGE_MAX"])
    if t is None or t.num_rows == 0:
        return None
    try:
        src = t.column("src").to_numpy()
        dst = t.column("dst").to_numpy()
    except (pa.lib.ArrowException, ValueError):
        return None
    if src.dtype != np.int64 or dst.dtype != np.int64:
        return None
    nodes, inv = np.unique(np.concatenate([src, dst]),
                           return_inverse=True)
    si, di = inv[: len(src)], inv[len(src):]
    deg = np.bincount(si, minlength=len(nodes)).astype(np.int64)
    # rank frame starts as deg's key set: nodes WITH out-degree
    present = deg > 0
    pr = np.full(len(nodes), PR_SCALE, np.int64)
    for _ in range(iters):
        live = present[si]
        contrib = pr[si[live]] // deg[si[live]]
        s = np.zeros(len(nodes), np.int64)
        np.add.at(s, di[live], contrib)
        recv = np.zeros(len(nodes), bool)
        recv[di[live]] = True
        pr = np.where(recv, PR_JUMP + (85 * s) // 100, 0)
        present = recv
    out_n = nodes[present]
    out_p = pr[present]
    spark = edges.sparkSession
    return spark.createDataFrame(
        pa.table({
            "node": pa.array(out_n, pa.int64()),
            "pr": pa.array(out_p, pa.int64()),
        })
    )


def pagerank_fixed(edges: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """``iters`` synchronous PageRank rounds over a directed edge list
    (src, dst), entirely in integer micro-units: contribution =
    ``pr DIV out_degree``, fold = ``jump + (85 * Σcontrib) DIV 100``.
    Integer division is exact and order-free, so the result is
    bit-identical across engines and partitionings — the float-sum
    nondeterminism that usually keeps iterative algorithms out of a
    hash-checked gate never arises.

    Scale shape: each round is ONE shuffle (group contributions by
    dst); the degree side is a per-src aggregate joined back on src.
    The rank frame is node-sized, never edge-history-sized.  Callers
    guarantee every node has out-degree ≥ 1 (the bipartite face feeds
    both edge directions), so no dangling-mass correction is needed.

    The edge list and the node-sized degree frame are eagerly
    checkpointed (the diamond discipline): every round's plan consumes
    both, so an unpersisted upstream (e.g. a DISTINCT over a fact
    table) would otherwise re-execute once per round per consumer —
    ~7x at 3 rounds."""
    local = _pagerank_local(edges, iters)
    if local is not None:
        return local
    # lazy checkpoints (r15): the rounds are one chained plan whose
    # FIRST materializing action (the caller's) computes edges and deg
    # once and persists their blocks for every later round's join —
    # the two dedicated eager-checkpoint jobs bought nothing the lazy
    # mark doesn't (plan truncation happens at mark time either way)
    edges = edges.localCheckpoint(eager=False)
    deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).alias("deg")
    ).localCheckpoint(eager=False)
    ranked = deg.select("src").withColumn(
        "pr", F.lit(PR_SCALE).cast("bigint")
    )
    for _ in range(iters):
        contrib = (
            edges.join(ranked, "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("pr DIV deg").alias("c"),
            )
        )
        ranked = (
            contrib.groupBy("node")
            .agg(
                (
                    F.lit(PR_JUMP)
                    + F.expr("(85 * sum(c)) DIV 100")
                ).alias("pr")
            )
            .select(F.col("node").alias("src"), "pr")
        )
    return ranked.select(F.col("src").alias("node"), "pr")


def _pr_iter_cte(prev: str, cur: str) -> str:
    return f"""{cur} AS (
      SELECT e.dst AS node,
             CAST({PR_JUMP} + (85 * SUM(p.pr // d.deg)) // 100
                  AS BIGINT) AS pr
      FROM edges e
      JOIN {prev} p ON p.node = e.src
      JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    )"""


_PAGERANK_ORACLE = f"""
    WITH e0 AS (
      SELECT DISTINCT l_suppkey AS src,
             l_partkey + {PR_PART_OFFSET} AS dst
      FROM lineitem
    ),
    edges AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
    deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
    p0 AS (SELECT src AS node, CAST({PR_SCALE} AS BIGINT) AS pr FROM deg),
    {_pr_iter_cte('p0', 'p1')},
    {_pr_iter_cte('p1', 'p2')},
    {_pr_iter_cte('p2', 'p3')},
    top AS (SELECT * FROM p3 ORDER BY pr DESC, node LIMIT {PR_TOP_K})
    SELECT node, pr,
           CAST(ROW_NUMBER() OVER (ORDER BY pr DESC, node) AS INTEGER)
             AS rank
    FROM top
    """


def _pr_query(name: str):
    from hfcommunity_spark.registry import query

    return query(name, _PAGERANK_ORACLE, survey="J5,A10,O2,J9")


@_pr_query("g_pagerank_fixed_iter")
def g_pagerank_fixed_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank over the supplier⇄part supply graph
    (the J5 iterative-algorithm face beyond BFS/CC): which suppliers
    and parts sit at the hubs of the supply network after 3 rounds of
    integer-exact rank propagation.

    The edge list is the DISTINCT (supplier, part) relation from
    lineitem, fed in BOTH directions so the bipartite graph has no
    dangling nodes; the oracle unrolls the same 3 rounds as chained
    CTEs with the identical integer expressions (`//` = `DIV`), so
    hash equality checks every round, not just the fixed point."""
    from pyspark.sql import Window

    from hfcommunity_spark.io import read_table

    li = read_table(spark, sf_dir, "lineitem")
    before = pinned_block_ids(spark)
    e0 = li.select(
        F.col("l_suppkey").cast("bigint").alias("src"),
        (F.col("l_partkey") + PR_PART_OFFSET).cast("bigint").alias("dst"),
    ).distinct()
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    pr = pagerank_fixed(edges)
    top = pr.orderBy(F.desc("pr"), F.asc("node")).limit(PR_TOP_K)
    w = Window.orderBy(F.desc("pr"), F.asc("node"))
    out = top.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).select("node", "pr", "rank")
    # the edge/degree checkpoints inside pagerank_fixed back only this
    # invocation's lineage — pin the PR_TOP_K result, free them
    return materialize_and_free(spark, before, out)
