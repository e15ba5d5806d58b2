"""Per-fold Spark-job BUDGETS for the maintained-index family
(VERDICT r11 ask #4): the round-10/11 fold-cost surgery eliminated
fixed per-fold job overhead face by face — these tests pin each
family's per-fold job count so a regression flips a test instead of
silently drifting a bench number (the `tests/test_graph.py` zero-job
assertion, generalized).

Budgets, by design of each fold:

- x19 (SCD2): the face itself is a fixed 4 jobs (one-row collect +
  one grouped kernel pass).  The library fold
  :func:`scd2_delta_split` is PURE PLAN CONSTRUCTION —
  zero jobs; materializing a fold costs exactly 3: AQE builds the
  anti- and semi-probe broadcast stages (one each — the shared
  delivery-keys frame is not exchange-reused across join types) plus
  the eager checkpoint's job.  A single left join + marker column
  would share one broadcast build (2 jobs) but needs a real DISTINCT
  shuffle on the delivery keys first — the semi/anti forms dedup for
  free in the build-side hash map, the better trade at 100 TB where
  the delivery is large and job-launch overhead is noise.
- x14 (BM25): :func:`bm25_index_delta` appends postings/doclens and
  folds the 1-row stats with a broadcast cross join — all lazy, zero
  jobs; serving pays the jobs.
- x16 (IVF): :func:`ivf_index_delta` materializes the DELIVERY's
  assigned piece (by contract — every serve consumes it twice), so
  the fold budget is the checkpoint's single job.
- x17 (span audit): every job of :func:`span_fold_in_place` runs on
  the calling thread, so the face's exact count holds under both
  placements with no untagged job.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import functions as F

# a warm caps-0 x17 call at smoke scale: per delivery 12 — the probe
# gate's collect (3 AQE stages), the postings layout's partition
# listing (64 bucket directories), the changed-doc collect (3), the
# stats upsert (broadcast, shuffle, write) and the postings append
# (shuffle, write) — plus the served union's checkpoint
X17_DISTRIBUTED_JOBS = 3 * 12 + 1

# a warm caps-0 x15 call at smoke scale: three deliveries' distributed
# fold chains and snapshot serves, plus the served union's checkpoint
# (a measured count)
X15_DISTRIBUTED_JOBS = 94


@contextmanager
def _job_budget(spark, budget: int, what: str, exact: bool = False):
    """Run the body under a throwaway job group and assert it
    scheduled at most ``budget`` Spark jobs (exactly ``budget`` when
    ``exact``)."""
    sc = spark.sparkContext
    group = f"hfc-job-budget-{what}"
    sc.setJobGroup(group, what)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == budget if exact else len(jobs) <= budget, (
        f"{what}: fold scheduled {len(jobs)} jobs "
        f"(budget {budget}): {sorted(jobs)}"
    )


def _new_untagged(tracker, before: set) -> set:
    """Untagged jobs that are not in ``before``.  Spark's status store
    drops its oldest jobs in chunks past ``spark.ui.retainedJobs``, so
    ids in ``before`` may be gone by now; only new ids count."""
    return set(tracker.getJobIdsForGroup(None)) - before


def test_scd2_fold_job_budget(spark):
    """scd2_delta_split schedules ZERO jobs (plan construction only);
    materializing the fold is a CONSTANT 3 jobs — two broadcast-probe
    builds + the eager checkpoint — independent of history depth
    (see module docstring for why not 2)."""
    from hfcommunity_spark.operators.graph import (
        _eager_checkpoint,
        _free_checkpoint,
    )
    from hfcommunity_spark.operators.mergeops import scd2_delta_split

    open_rows = spark.createDataFrame(
        [(1, "a", 10, None, 12), (2, "b", 5, None, 5)],
        "user_id int, state string, valid_from int, valid_to int, "
        "_last_event_ts int",
    )
    changes = spark.createDataFrame(
        [(1, "b", 20, 100), (3, "a", 21, 101)],
        "user_id int, event_type string, ts int, event_id int",
    )
    with _job_budget(spark, 0, "scd2-plan"):
        parts = scd2_delta_split(
            open_rows, changes, key="user_id", state="event_type",
            ts="ts", tiebreak="event_id",
        )
    with _job_budget(spark, 3, "scd2-fold"):
        folded, ids = _eager_checkpoint(parts.coalesce(2))
    # the fold actually folded: key 1 closed at ts 20, key 3 is fresh
    got = {(r.user_id, r.state, r.valid_from, r.valid_to)
           for r in folded.collect()}
    assert (1, "a", 10, 20) in got and (1, "b", 20, None) in got
    assert (3, "a", 21, None) in got and (2, "b", 5, None) in got
    _free_checkpoint(spark, ids)


def test_bm25_fold_job_budget(spark):
    """bm25_index_delta — postings/doclen appends + the broadcast
    stats fold — schedules ZERO jobs; ranking pays them at serve."""
    from hfcommunity_spark.operators.retrieval import (
        _bm25_frames,
        bm25_index_delta,
    )

    base = spark.createDataFrame(
        [(1, "data spark model"), (2, "spark spark")],
        "doc_id long, text string",
    )
    arriving = spark.createDataFrame(
        [(3, "model data"),], "doc_id long, text string",
    )
    tf0, dl0, st0 = _bm25_frames(base)
    with _job_budget(spark, 0, "bm25-fold"):
        tf, dl, st = bm25_index_delta(tf0, dl0, st0, arriving)
    stats = st.collect()[0]
    assert stats.n == 3 and stats.sum_dl == 7
    assert dl.count() == 3


def test_x19_kernel_job_budget(spark):
    """The x19 face schedules exactly 4 jobs at sf0.01, independent of
    delivery count: the one-row ``max(event_id)`` collect (partial
    aggregate stage + final stage) and the grouped kernel pass
    (shuffle stage + local checkpoint).  A per-delivery job sneaking
    in flips this test, not a bench number."""
    from hfcommunity_spark.io import read_table
    from hfcommunity_spark.operators.etlops import _parquet_row_count
    from hfcommunity_spark.operators.mergeops import x19_stream_scd2_dim
    from tests.conftest import SF_ORACLE as sf

    ev = read_table(spark, sf, "events")
    ev.schema  # footer/schema job billed to the read, not the fold
    with _job_budget(spark, 4, "x19-kernel", exact=True):
        out = x19_stream_scd2_dim(spark, sf)
    assert len(out.columns) == 5
    # the footer count is EXACT: it equals the real count
    assert _parquet_row_count(f"{sf}/events.parquet") == ev.count()
    # unreadable/remote paths yield no count, never a wrong one
    assert _parquet_row_count("/nonexistent/events.parquet") is None


def test_x15_fold_job_budget(spark):
    """A warm x15 call at smoke scale schedules exactly 2 jobs: every
    delivery folds locally and serves from the layout files (no job),
    and the served union's upload and checkpoint are the 2.  Jobs
    submitted from another thread would escape the job group, so the
    face's untagged jobs are counted too."""
    from hfcommunity_spark.operators.dedup import (
        x15_stream_maintained_clusters,
    )
    from tests.conftest import SF_SMOKE

    x15_stream_maintained_clusters(spark, SF_SMOKE).count()
    tracker = spark.sparkContext.statusTracker()
    untagged = set(tracker.getJobIdsForGroup(None))
    with _job_budget(spark, 2, "x15-warm", exact=True):
        out = x15_stream_maintained_clusters(spark, SF_SMOKE)
    assert _new_untagged(tracker, untagged) == set()
    assert out.count() > 0


def test_x15_distributed_fold_job_budget(spark):
    """Forced onto the distributed chain, a warm x15 call at smoke
    scale schedules exactly X15_DISTRIBUTED_JOBS jobs, none of them
    outside the caller's job group."""
    from hfcommunity_spark.operators import placement
    from hfcommunity_spark.operators.dedup import (
        x15_stream_maintained_clusters,
    )
    from tests.conftest import SF_SMOKE

    x15_stream_maintained_clusters(spark, SF_SMOKE).count()
    tracker = spark.sparkContext.statusTracker()
    untagged = set(tracker.getJobIdsForGroup(None))
    with placement.distributed():
        with _job_budget(spark, X15_DISTRIBUTED_JOBS,
                         "x15-warm-distributed", exact=True):
            out = x15_stream_maintained_clusters(spark, SF_SMOKE)
    assert _new_untagged(tracker, untagged) == set()
    assert out.count() > 0


def test_x17_fold_job_budget(spark):
    """A warm x17 call at smoke scale schedules exactly 2 jobs: the
    whole-stream span collect, then the served union's checkpoint —
    every delivery folds locally and serves from the layout files.
    Forced onto the distributed chain it schedules exactly
    X17_DISTRIBUTED_JOBS.  Jobs submitted from another thread would
    escape the job group, so neither placement may add untagged
    jobs."""
    from hfcommunity_spark.operators import placement
    from hfcommunity_spark.operators.dedup import (
        x17_stream_maintained_spans,
    )
    from tests.conftest import SF_SMOKE

    x17_stream_maintained_spans(spark, SF_SMOKE).count()
    tracker = spark.sparkContext.statusTracker()
    untagged = set(tracker.getJobIdsForGroup(None))
    with _job_budget(spark, 2, "x17-warm", exact=True):
        x17_stream_maintained_spans(spark, SF_SMOKE)
    with placement.distributed():
        with _job_budget(spark, X17_DISTRIBUTED_JOBS,
                         "x17-warm-distributed", exact=True):
            out = x17_stream_maintained_spans(spark, SF_SMOKE)
    assert _new_untagged(tracker, untagged) == set()
    assert out.count() > 0


def test_span_fold_in_place_parity_job_budget(spark):
    """A warm ``dd_span_fold_in_place_parity`` call schedules exactly
    2 jobs: the fold entry's bounded span collect and the served
    table's checkpoint (the stats layout is read on the driver)."""
    from hfcommunity_spark.operators.dedup import (
        dd_span_fold_in_place_parity,
    )
    from tests.conftest import SF_SMOKE

    dd_span_fold_in_place_parity(spark, SF_SMOKE).count()
    with _job_budget(spark, 2, "dd-span-warm", exact=True):
        out = dd_span_fold_in_place_parity(spark, SF_SMOKE)
    assert out.count() > 0


def test_pagerank_local_twin_job_budget(spark):
    """The PageRank driver-local twin is ONE guarded Arrow collect —
    a single job covers gate + transfer (the documented no-pre-gate
    trade: the edge frame is typically a corpus DISTINCT, a count
    pre-gate would pay that shuffle twice)."""
    from hfcommunity_spark.operators.graph import pagerank_fixed

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1)], "src long, dst long"
    )
    with _job_budget(spark, 1, "pagerank-local-twin"):
        out = pagerank_fixed(edges, 3)
    assert set(out.columns) == {"node", "pr"}


def test_ancestors_local_twin_job_budget(spark):
    """The ancestors driver-local twin schedules exactly 4 jobs: the
    compact start-set Arrow collect (1), the bounded edge COUNT
    pre-gate (2 incremental-limit jobs — ships nothing, ADVICE r12),
    and the single edge Arrow collect (1)."""
    from hfcommunity_spark.operators.graph import ancestors

    edges = spark.createDataFrame(
        [("c", "b"), ("b", "a"), ("d", "c")],
        "commit_sha string, parent_sha string",
    )
    starts = spark.createDataFrame([("d",), ("c",)], "sha string")
    with _job_budget(spark, 4, "ancestors-local-twin"):
        out = ancestors(edges, starts, 3)
    assert set(out.columns) == {"sha", "ancestor_sha", "hops"}


def test_ivf_fold_job_budget(spark):
    """ivf_index_delta materializes exactly the delivery's assigned
    piece — ONE checkpoint job, never a job over the standing lists."""
    from hfcommunity_spark.operators.similarity import ivf_index_delta

    base_lists = spark.createDataFrame(
        [(1, 0, [0.0, 0.0]), (2, 1, [1.0, 1.0])],
        "vec_id long, cell int, embedding array<double>",
    )
    arriving = spark.createDataFrame(
        [(3, [0.9, 1.1]), (4, [0.1, -0.1])],
        "vec_id long, embedding array<double>",
    )
    cents = [[0.0, 0.0], [1.0, 1.0]]
    with _job_budget(spark, 1, "ivf-fold"):
        folded = ivf_index_delta(base_lists, arriving, cents)
    got = {(r.vec_id, r.cell) for r in
           folded.select("vec_id", "cell").collect()}
    assert got == {(1, 0), (2, 1), (3, 1), (4, 0)}
