"""Merge semantics of the reference ETL (SURVEY §2.8) as reusable,
set-oriented operators.

The reference writes row-at-a-time with three distinct conflict
semantics (all against MariaDB unique keys):

- D1 ``INSERT IGNORE``           — first writer wins, existing row
  untouched (tags databaseImport.py:277, authors :392-396, commits
  :401, events :523-536, ...)
- D2 ``ON DUPLICATE KEY UPDATE`` — upsert of an *enumerated* column
  list, last writer wins (repository :641, model :648, repo_file :312,
  discussion status-only :491, author full-profile :515)
- D3 partial UPDATE of stale rows — update-only, restricted columns
  (likes/downloads for repos older than the watermark, :609-618)
- U1 priority union               — author rows from three sources
  ("commit" :392, "hf" :474, "hf_owner" :629) where richer sources
  overwrite stubs (:513-518)

Spark has no unique keys, so these become joins.  Every function is a
pure DataFrame→DataFrame transform: shuffle-once on the PK, broadcast-
friendly, and deterministic given an explicit ``order_by`` (Spark has
no insertion order — the reference's implicit arrival order must be
made explicit, SURVEY §7 risk list).

At 100 TB: the PK join is the only shuffle; when ``existing`` is a
bucketed/partitioned snapshot on the PK, Catalyst avoids re-shuffling
it, and AQE handles skewed keys (mega-repo pathology the reference
sidesteps with skip thresholds, databaseImport.py:374-382).
"""

from __future__ import annotations

from collections.abc import Sequence
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hfcommunity_spark.io import read_table
from hfcommunity_spark.registry import query

if TYPE_CHECKING:
    import pyarrow as pa

_E, _U = "__merge_e", "__merge_u"


def _first_per_key(df: DataFrame, pk: Sequence[str],
                   order_by: Sequence[str] | None) -> DataFrame:
    """Deterministic within-batch dedup: first row per PK under
    ``order_by`` (replaces the reference's arrival order)."""
    if order_by is None:
        return df.dropDuplicates(list(pk))
    w = Window.partitionBy(*pk).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def insert_ignore(existing: DataFrame, incoming: DataFrame,
                  pk: Sequence[str],
                  order_by: Sequence[str] | None = None) -> DataFrame:
    """D1: insert rows whose PK is absent; existing rows untouched.

    ``existing`` must already be PK-unique (pass an empty frame to
    bootstrap). Within ``incoming``, first row per PK under
    ``order_by`` wins — the set-at-a-time equivalent of MariaDB
    INSERT IGNORE's first-arrival semantics.
    """
    fresh = _first_per_key(incoming, pk, order_by)
    new_rows = fresh.join(existing.select(*pk), list(pk), "left_anti")
    return existing.unionByName(new_rows)


def upsert(existing: DataFrame, updates: DataFrame, pk: Sequence[str],
           update_cols: Sequence[str] | None = None,
           order_by: Sequence[str] | None = None) -> DataFrame:
    """D2: MariaDB ``INSERT ... ON DUPLICATE KEY UPDATE col=...``.

    Matched keys: overwrite *only* ``update_cols`` (the reference
    enumerates them per table — discussion updates only ``status``,
    databaseImport.py:491); unmatched update rows are inserted whole;
    unmatched existing rows pass through. Last writer wins within
    ``updates`` (``order_by`` descending-first should be arranged by
    the caller via the ordering columns).
    """
    # `is None`, not truthiness: an EXPLICIT empty list means "match
    # but update nothing" (insert-only upsert), which `or` would
    # silently expand into a full-row overwrite (round-6 review
    # finding)
    update_cols = list(
        update_cols
        if update_cols is not None
        else [c for c in updates.columns if c not in pk]
    )
    fresh = _first_per_key(updates, pk, order_by)
    e = existing.withColumn(_E, F.lit(True)).alias("e")
    u = fresh.withColumn(_U, F.lit(True)).alias("u")
    joined = e.join(u, list(pk), "full_outer")
    matched_u = F.col(_U).isNotNull()
    matched_e = F.col(_E).isNotNull()
    out = []
    for c in existing.columns:
        if c in pk:
            out.append(F.col(c))
        elif c in update_cols:
            out.append(
                F.when(matched_u, F.col(f"u.{c}"))
                .otherwise(F.col(f"e.{c}"))
                .alias(c)
            )
        else:
            out.append(
                F.when(matched_e, F.col(f"e.{c}"))
                .otherwise(F.col(f"u.{c}") if c in fresh.columns else F.lit(None))
                .alias(c)
            )
    return joined.select(*out)


def partial_update(existing: DataFrame, updates: DataFrame,
                   pk: Sequence[str], update_cols: Sequence[str],
                   order_by: Sequence[str] | None = None) -> DataFrame:
    """D3: UPDATE-only (no inserts) of a restricted column list — the
    stale-row likes/downloads refresh (databaseImport.py:609-618)."""
    fresh = _first_per_key(updates, pk, order_by)
    e = existing.alias("e")
    u = fresh.withColumn(_U, F.lit(True)).alias("u")
    joined = e.join(u, list(pk), "left")
    matched = F.col(_U).isNotNull()
    out = []
    for c in existing.columns:
        if c in pk:
            out.append(F.col(c))
        elif c in update_cols:
            out.append(
                F.when(matched, F.col(f"u.{c}")).otherwise(F.col(f"e.{c}")).alias(c)
            )
        else:
            out.append(F.col(f"e.{c}").alias(c))
    return joined.select(*out)


def priority_union(sources: Sequence[tuple[DataFrame, int]],
                   pk: Sequence[str],
                   order_by: Sequence[str] | None = None) -> DataFrame:
    """U1: union rows from ranked sources; per PK the highest-priority
    source wins (author streams "hf" > "hf_owner" > "commit" stubs,
    databaseImport.py:392-396,:474,:513-518,:629)."""
    tagged = [
        df.withColumn("__prio", F.lit(prio)) for df, prio in sources
    ]
    unioned = tagged[0]
    for t in tagged[1:]:
        unioned = unioned.unionByName(t, allowMissingColumns=True)
    order = [F.desc("__prio")] + [F.col(c) for c in (order_by or [])]
    w = Window.partitionBy(*pk).orderBy(*order)
    return (
        unioned.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__prio")
    )


# The reference's author-source ladder: commit stubs (:392-396) <
# repository owners (:629) < rows fetched from the Hub (:474,
# :513-518).  ONE definition — etl.pipeline ranks its priority_union
# with it and the incremental release merge re-derives per-row
# priority from the stored source column with it.
AUTHOR_SOURCE_PRIORITY: dict[str, int] = {
    "commit": 1,
    "hf_owner": 2,
    "hf": 3,
}


def author_source_audit(df: DataFrame) -> DataFrame:
    """(source, n_rows) for every source value NOT in
    ``AUTHOR_SOURCE_PRIORITY`` (NULL included).  A malformed source is
    demoted below every known tier by :func:`author_priority_merge` —
    this audit makes that demotion observable instead of silent
    (round-5 ADVICE finding)."""
    return (
        df.filter(
            ~F.col("source").isin(*AUTHOR_SOURCE_PRIORITY)
            | F.col("source").isNull()
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


def author_priority_merge(prev: DataFrame, cur: DataFrame) -> DataFrame:
    """Merge two author frames by per-row SOURCE priority: the highest
    ``AUTHOR_SOURCE_PRIORITY`` tier wins per username, so a commit
    stub arriving later can never downgrade a Hub-fetched row
    (:513-518); on equal tier the current frame wins (fresh data,
    same richness), with the remaining columns as a deterministic
    tie-break.  An unknown or NULL source lands at tier 0 — explicitly
    BELOW every known tier, never equal to 'commit' — and shows up in
    :func:`author_source_audit`, so a malformed feed can neither win a
    merge nor pass unnoticed."""
    prio = None
    for src, p in AUTHOR_SOURCE_PRIORITY.items():
        cond = F.col("source") == src
        prio = F.when(cond, p) if prio is None else prio.when(cond, p)
    prio = prio.otherwise(0)
    u = (
        prev.withColumn("__cur", F.lit(0))
        .unionByName(cur.withColumn("__cur", F.lit(1)))
        .withColumn("__prio", prio)
    )
    rest = [c for c in sorted(prev.columns) if c != "username"]
    w = Window.partitionBy("username").orderBy(
        F.desc("__prio"), F.desc("__cur"), *[F.col(c) for c in rest]
    )
    return (
        u.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__prio", "__cur")
    )


# ---------------------------------------------------------------------------
# Declared, oracle-checked demonstrations on the driver tables
# ---------------------------------------------------------------------------

_SPLIT = "TIMESTAMP '2024-01-16'"


@query(
    "d1_insert_ignore_first_writer",
    f"""
    WITH b1 AS (SELECT * FROM events WHERE ts < {_SPLIT}),
         b2 AS (SELECT * FROM events WHERE ts >= {_SPLIT}),
         k1 AS (SELECT user_id, event_type, event_id, ts FROM (
                  SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY user_id, event_type ORDER BY ts, event_id) rn
                  FROM b1) WHERE rn = 1),
         k2 AS (SELECT user_id, event_type, event_id, ts FROM (
                  SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY user_id, event_type ORDER BY ts, event_id) rn
                  FROM b2) WHERE rn = 1)
    SELECT * FROM k1
    UNION ALL
    SELECT k2.* FROM k2 WHERE NOT EXISTS (
      SELECT 1 FROM k1 WHERE k1.user_id = k2.user_id
                         AND k1.event_type = k2.event_type)
    """,
    survey="D1,A9,U1",
)
def d1_insert_ignore_first_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT IGNORE replay: load batch 1 then batch 2 of events keyed
    by (user_id, event_type); first writer (by ts, event_id) wins."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts"
    )
    split = F.lit("2024-01-16").cast("timestamp")
    b1, b2 = ev.filter(F.col("ts") < split), ev.filter(F.col("ts") >= split)
    pk, order = ["user_id", "event_type"], ["ts", "event_id"]
    existing = insert_ignore(b1.limit(0), b1, pk, order)
    return insert_ignore(existing, b2, pk, order)


@query(
    "d2_upsert_last_writer",
    f"""
    WITH b1 AS (SELECT * FROM events WHERE ts < {_SPLIT}),
         b2 AS (SELECT * FROM events WHERE ts >= {_SPLIT}),
         e AS (SELECT user_id, event_type, event_id, ts, value FROM (
                 SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) rn
                 FROM b1) WHERE rn = 1),
         u AS (SELECT user_id, event_type, event_id, ts, value FROM (
                 SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) rn
                 FROM b2) WHERE rn = 1)
    SELECT COALESCE(u.user_id, e.user_id) AS user_id,
           COALESCE(u.event_type, e.event_type) AS event_type,
           CASE WHEN u.user_id IS NOT NULL THEN u.ts ELSE e.ts END AS ts,
           CASE WHEN u.user_id IS NOT NULL THEN u.value ELSE e.value END AS value,
           CASE WHEN e.user_id IS NOT NULL THEN e.event_id ELSE u.event_id END
             AS event_id
    FROM e FULL JOIN u
      ON e.user_id = u.user_id AND e.event_type = u.event_type
    """,
    survey="D2,W4",
)
def d2_upsert_last_writer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ON DUPLICATE KEY UPDATE replay: snapshot of the latest event per
    (user_id, event_type) upserted with a *listed* column set
    {ts, value} — event_id keeps the existing value on matches,
    mirroring the reference's per-table column lists (e.g. discussion
    updates only status, databaseImport.py:491)."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "event_id", "ts", "value"
    )
    split = F.lit("2024-01-16").cast("timestamp")
    pk = ["user_id", "event_type"]
    latest = ["ts", "event_id"]

    def latest_per_key(df: DataFrame) -> DataFrame:
        # the module's _first_per_key under a descending order — one
        # dedup idiom, not two copies that can drift tie-breaks
        return _first_per_key(df, pk, [F.desc(c) for c in latest])

    existing = latest_per_key(ev.filter(F.col("ts") < split))
    updates = latest_per_key(ev.filter(F.col("ts") >= split))
    return upsert(existing, updates, pk, update_cols=["ts", "value"])


@query(
    "d3_partial_update_stale",
    """
    SELECT c_custkey, c_name, c_mktsegment,
           CASE WHEN u.o_custkey IS NOT NULL THEN u.new_bal
                ELSE c_acctbal END AS c_acctbal
    FROM customer c LEFT JOIN (
      SELECT o_custkey, MAX(o_totalprice) AS new_bal
      FROM orders GROUP BY o_custkey
    ) u ON c.c_custkey = u.o_custkey
    """,
    survey="D3,P2",
)
def d3_partial_update_stale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stale-row partial UPDATE replay (likes/downloads-only refresh,
    databaseImport.py:609-618): customers get c_acctbal refreshed from
    their max order price; no inserts, other columns untouched."""
    customer = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    updates = (
        read_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(F.max("o_totalprice").alias("c_acctbal"))
    )
    return partial_update(customer, updates, ["c_custkey"], ["c_acctbal"])


@query(
    "u1_priority_union_sources",
    """
    WITH all_src AS (
      SELECT s_nationkey AS key, s_name AS name, 'supplier' AS source,
             1 AS priority FROM supplier
      UNION ALL
      SELECT c_nationkey, c_name, 'customer', 2 FROM customer
    )
    SELECT key, name, source FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY key ORDER BY priority DESC, name) rn
      FROM all_src) WHERE rn = 1
    """,
    survey="U1,U2",
)
def u1_priority_union_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tagged priority union replay (author streams, SURVEY §2.7 U1):
    per key the higher-priority source wins, name as tie-break."""
    supplier = read_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("key"),
        F.col("s_name").alias("name"),
        F.lit("supplier").alias("source"),
    )
    customer = read_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("key"),
        F.col("c_name").alias("name"),
        F.lit("customer").alias("source"),
    )
    return priority_union(
        [(supplier, 1), (customer, 2)], pk=["key"], order_by=["name"]
    )


def _scd2_runs(events: DataFrame, key: str, state: str,
               ts: str, tiebreak: str,
               with_last_ts: bool = False,
               guard_wm: str | None = None) -> DataFrame:
    """The shared gaps-and-islands core: collapse consecutive
    same-``state`` runs per ``key`` into [valid_from, valid_to)
    rows.  One shuffle total — every window expression here shares
    partitionBy(key) + orderBy(ts, tiebreak), so Catalyst plans one
    exchange + one sort reused across all of them.

    ``with_last_ts`` adds ``_last_event_ts`` = the key's max event
    time over ALL input rows (including absorbed same-state ones) as
    an unbounded-frame ``max`` riding the same sort — the fold
    watermark :func:`scd2_delta`'s complete in-order check reads.

    ``guard_wm`` names a column carried on SEED rows only (the key's
    prior fold watermark; NULL on delivery rows).  The in-order
    delivery contract is then enforced INSIDE the same window pass:
    ``max(guard_wm)`` per key broadcasts the watermark to every row
    (again riding the same sort — no broadcast join, no extra job),
    and a map-side ``assert_true`` fails the fold loudly if any
    delivery row predates it.  The guard filter sits BELOW the
    run-collapse filter in the plan and cannot be reordered past it
    (the collapse predicate reads ``lag`` output, which only exists
    above this node), so the check evaluates for EVERY delivery row,
    absorbed ones included."""
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    wall = w.rowsBetween(Window.unboundedPreceding,
                         Window.unboundedFollowing)
    src = events
    extra = []
    if with_last_ts:
        src = src.withColumn("_last_event_ts", F.max(ts).over(wall))
        extra = ["_last_event_ts"]
    if guard_wm is not None:
        src = src.withColumn("_kwm", F.max(guard_wm).over(wall))
        src = src.filter(
            F.assert_true(
                F.col(guard_wm).isNotNull()      # seed rows are exempt
                | F.col("_kwm").isNull()         # key had no open row
                | (F.col(ts) >= F.col("_kwm")),
                F.concat(
                    F.lit("scd2_delta: delivery event at "),
                    F.col(ts).cast("string"),
                    F.lit(" predates the key's fold watermark "),
                    F.col("_kwm").cast("string"),
                    F.lit(f" for {key}="),
                    F.col(key).cast("string"),
                    F.lit(" — the in-order (watermark) delivery "
                          "contract is violated"),
                ),
            ).isNull()
        )
    changed = (
        src.withColumn("_prev", F.lag(state).over(w))
        .filter(
            F.col("_prev").isNull() | (F.col("_prev") != F.col(state))
        )
    )
    return changed.select(
        key,
        F.col(state).alias("state"),
        F.col(ts).alias("valid_from"),
        F.lead(ts).over(w).alias("valid_to"),
        *extra,
    )


def scd2_history(changes: DataFrame, key: str, state: str,
                 ts: str, tiebreak: str,
                 with_last_ts: bool = False) -> DataFrame:
    """Build an SCD-type-2 history from a change stream: collapse
    consecutive runs of the same ``state`` per ``key`` and emit one
    row per run with [valid_from, valid_to) (valid_to NULL = current).

    The warehouse-side generalization of the reference's monthly
    re-snapshot (D4 idempotent re-runs keep only the latest state;
    SCD2 keeps the full timeline).  One shuffle: all windows share
    partitionBy(key) + orderBy(ts, tiebreak) (see :func:`_scd2_runs`).

    ``with_last_ts=True`` additionally emits ``_last_event_ts`` — the
    key's max folded event time, fused into the build's own window
    pass (no extra shuffle, no separate groupBy+join).  It is stamped
    on every emitted row (open and closed alike — a fold-time
    snapshot; consumers must only trust it on open rows)."""
    return _scd2_runs(changes, key, state, ts, tiebreak,
                      with_last_ts=with_last_ts)


@query(
    "d5_scd2_user_state",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    runs AS (
      SELECT user_id, event_type, ts, event_id FROM ordered
      WHERE prev IS NULL OR prev <> event_type
    )
    SELECT user_id, event_type AS state, ts AS valid_from,
           LEAD(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS valid_to
    FROM runs
    """,
    survey="D2,D4,W2",
)
def d5_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 timeline of each user's event_type runs (gaps-and-islands →
    validity intervals)."""
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    return scd2_history(ev, key="user_id", state="event_type",
                        ts="ts", tiebreak="event_id")


# --- x19: the SCD2 dimension under a STREAM of deliveries --------------

X19_DELIVERIES = 3


def scd2_delta(dim: DataFrame, changes: DataFrame,
               key: str, state: str, ts: str,
               tiebreak: str) -> DataFrame:
    """Fold a delivery of change events into a maintained SCD2
    dimension — the incremental path: only the AFFECTED keys' open
    rows are recomputed; closed history and untouched keys are carried
    as-is (at 100 TB: a key-bucketed upsert of delivery-bounded rows,
    the ``apply_changes_vertex_layout`` shape for the merge family).

    Contract (the streaming watermark guarantee): every delivery event
    is event-time ≥ its key's last already-folded event — exactly what
    an in-order, watermarked stream delivers.  Under it, a key's
    closed rows can never change; the open row either stays open
    (same-state events absorb) or closes at the first state change.
    The fold seeds each affected key's recompute with its open row as
    a pseudo-event (its ``valid_from``, tiebreak −1 so it sorts before
    any same-timestamp delivery event) and re-runs the gaps-and-
    islands transform over seed ∪ delivery only.

    Contract enforcement: a violating event — one timestamped before
    its key's fold watermark — would silently sort ahead of the seed
    pseudo-event and corrupt closed history, so the fold plan itself
    raises via ``assert_true``.  The check rides the recompute's own
    window pass (the seed row carries the watermark; an
    unbounded-frame ``max`` broadcasts it to every delivery row over
    the same sort — see :func:`_scd2_runs`), so it costs no join and
    no job, and stays map-side and complete.  The watermark is the
    open row's ``valid_from``, UNLESS the dimension carries a
    ``_last_event_ts`` column (see :func:`scd2_track_seed`), in which
    case it is the key's LAST FOLDED EVENT TIME — the complete check:
    ``valid_from`` alone cannot see an event that lands between the
    open run's start and a later already-absorbed same-state event.
    The tracked column is likewise maintained inside the same window
    pass (no per-fold groupBy+join): open rows carry the key's max
    folded ts; closed rows carry a fold-time snapshot from the fold
    that closed them (unspecified metadata — consumers must only read
    the watermark on open rows).  Serving selects drop it.

    Exactness (fold chain == one-shot :func:`scd2_history` over the
    union, at every prefix) is locked by
    ``tests/test_round9_ops.py``."""
    parts = scd2_delta_split(
        dim.filter(F.col("valid_to").isNull()),
        changes, key=key, state=state, ts=ts, tiebreak=tiebreak,
    )
    return dim.filter(F.col("valid_to").isNotNull()).unionByName(parts)


def scd2_delta_split(open_rows: DataFrame, changes: DataFrame,
                     key: str, state: str, ts: str,
                     tiebreak: str) -> DataFrame:
    """The fold's WORKING SET: given only the dimension's OPEN rows
    and a delivery, return the post-fold open rows plus the rows this
    fold closes.  Closed history never enters the fold plan at all —
    the caller carries it as an append-only sequence of immutable
    pieces (at 100 TB: the fold's materialized frame is bounded by
    |keys| + |delivery|, never by history size; :func:`_x19_kernel`
    runs the same fold on arrays).  Untouched open rows pass through
    via a broadcast anti join; affected open rows seed the recompute
    with the in-order guard and the fold watermark fused into its
    single window pass (:func:`_scd2_runs`)."""
    track = "_last_event_ts" in open_rows.columns
    # semi/anti joins are set-semantic on the probe side, so the
    # delivery's keys broadcast WITHOUT a distinct shuffle (the
    # build-side hash map dedups for free)
    aff = changes.select(key)
    stay = open_rows.join(F.broadcast(aff), key, "left_anti")
    affected = open_rows.join(F.broadcast(aff), key, "left_semi")
    wm = (
        F.coalesce(F.col("_last_event_ts"), F.col("valid_from"))
        if track else F.col("valid_from")
    )
    ts_type = changes.schema[ts].dataType
    seed = affected.select(
        key,
        F.col("state").alias(state),
        F.col("valid_from").alias(ts),
        F.lit(-1).alias(tiebreak),
        wm.alias("_wm"),
    )
    delivery = changes.select(key, state, ts, tiebreak).withColumn(
        "_wm", F.lit(None).cast(ts_type)
    )
    recomputed = _scd2_runs(
        seed.unionByName(delivery),
        key=key, state=state, ts=ts, tiebreak=tiebreak,
        with_last_ts=track, guard_wm="_wm",
    )
    return stay.unionByName(recomputed)


def scd2_track_seed(dim: DataFrame, events: DataFrame,
                    key: str, ts: str) -> DataFrame:
    """Attach the ``_last_event_ts`` fold-watermark column to an
    ALREADY-BUILT SCD2 dimension (open rows get the key's max event
    time from the history that built it) — opting the dimension into
    :func:`scd2_delta`'s COMPLETE in-order check.  New builds should
    prefer ``scd2_history(..., with_last_ts=True)``, which fuses the
    same watermark into the build's own window pass (no extra
    groupBy+join); this helper remains for dimensions built
    elsewhere."""
    last = events.groupBy(key).agg(F.max(ts).alias("_l"))
    return dim.join(last, key, "left").withColumn(
        "_last_event_ts",
        F.when(F.col("valid_to").isNull(), F.col("_l")),
    ).drop("_l")


def _x19_kernel(t: pa.Table, n_top: int) -> pa.Table:
    """The x19 lifecycle over one group of users' events: the base
    build, the three delivery folds and the three serves, as
    vectorized numpy runs-collapse.  ``t`` holds every event of its
    users (``user_id``, ``ts``, ``event_id``, ``event_type``, none
    null); ``n_top`` is the whole feed's ``max(event_id) + 1``, so
    every group cuts the feed at the same id quartiles as
    :func:`_x19_cut_sql`.

    Each fold is :func:`scd2_delta_split` on arrays: the delivery's
    keys' open rows seed the recompute at their ``valid_from`` with
    tiebreak −1 (before any same-timestamp delivery event), and the
    runs collapse under the (ts, event_id) sort of :func:`_scd2_runs`.
    An open row carries its key's fold watermark, the last folded
    event time.  A delivery event before it breaks the in-order
    contract and raises ``ValueError``; under the contract a key's
    closed rows never change.  Delivery k serves every closed row ∪
    every open row, tagged ``delivery_id`` k.

    Bound: the face groups events by ``pmod(xxhash64(user_id),
    width)``, so one Python worker holds about |events| / width rows
    as a handful of int64 arrays."""
    import numpy as np
    import pyarrow as pa

    cols = ("user_id", "ts", "event_id", "event_type")
    if any(t.column(c).null_count for c in cols):
        raise ValueError(f"x19: null in one of {cols}")
    uid = t.column("user_id").to_numpy().astype(np.int64)
    tsv = t.column("ts").cast(pa.int64()).to_numpy()
    eid = t.column("event_id").to_numpy()
    states = t.column("event_type").combine_chunks().dictionary_encode()
    code = states.indices.to_numpy().astype(np.int64)
    # 0 = base, k + 1 = delivery k
    part = np.searchsorted([(n_top * m + 3) // 4 for m in (1, 2, 3)],
                           eid, side="right")

    none = np.empty(0, np.int64)
    # open rows sorted by key: key, state, valid_from, fold watermark
    ou, oc, of, ow = none, none, none, none
    closed: list[tuple] = []   # (key, state, valid_from, valid_to)
    served: list[tuple] = []   # (delivery_id, key, state, from, to, open)
    for k in range(X19_DELIVERIES + 1):
        m = part == k
        du, dc, dt, db = uid[m], code[m], tsv[m], eid[m]
        seeded = np.isin(ou, du)
        su, sw = ou[seeded], ow[seeded]
        if len(su):
            i = np.minimum(np.searchsorted(su, du), len(su) - 1)
            bad = (su[i] == du) & (dt < sw[i])
            if bad.any():
                j = int(np.argmax(bad))
                raise ValueError(
                    f"scd2_delta: delivery event at {dt[j]} predates "
                    f"the key's fold watermark {sw[i[j]]} for "
                    f"user_id={du[j]} — the in-order (watermark) "
                    "delivery contract is violated"
                )
        if len(du):
            u = np.concatenate([su, du])
            c = np.concatenate([oc[seeded], dc])
            f = np.concatenate([of[seeded], dt])
            o = np.lexsort((np.concatenate([np.full(len(su), -1), db]),
                            f, u))
            u, c, f = u[o], c[o], f[o]
            new_key = u[1:] != u[:-1]
            run = np.concatenate(([True], new_key | (c[1:] != c[:-1])))
            ru, rc, rf = u[run], c[run], f[run]
            last = np.append(ru[1:] != ru[:-1], True)
            rto = np.append(rf[1:], 0)
            closed.append((ru[~last], rc[~last], rf[~last], rto[~last]))
            # the watermark is the key's max ts over seed ∪ delivery:
            # the guard keeps it from moving back
            keep = ~seeded
            ou = np.concatenate([ou[keep], ru[last]])
            o = np.argsort(ou, kind="stable")
            ou = ou[o]
            oc = np.concatenate([oc[keep], rc[last]])[o]
            of = np.concatenate([of[keep], rf[last]])[o]
            ow = np.concatenate([ow[keep], f[np.append(new_key, True)]])[o]
        if k:
            cu, cc, cf, ct = (np.concatenate([p[x] for p in closed] or
                                             [none]) for x in range(4))
            served.append((
                np.full(len(cu) + len(ou), k - 1, np.int32),
                np.concatenate([cu, ou]),
                np.concatenate([cc, oc]),
                np.concatenate([cf, of]),
                np.concatenate([ct, np.zeros(len(ou), np.int64)]),
                np.concatenate([np.zeros(len(cu), bool),
                                np.ones(len(ou), bool)]),
            ))
    dk, u, c, f, to, is_open = (np.concatenate([s[x] for s in served])
                                for x in range(6))
    ts_type = t.schema.field("ts").type
    return pa.table({
        "delivery_id": pa.array(dk, pa.int32()),
        "user_id": pa.array(u, pa.int64()),
        "state": states.dictionary.take(pa.array(c)),
        "valid_from": pa.array(f).cast(ts_type),
        "valid_to": pa.array(to, mask=is_open).cast(ts_type),
    })


def _x19_cut_sql(k: int) -> str:
    """Prefix-k corpus predicate over events, in exact integer
    arithmetic both engines reproduce bit-identically: event ids are
    dense and event-time-ordered in the synthetic feed (asserted in
    tests), so id quartiles ARE time quartiles — base gets the first,
    each delivery the next."""
    return (
        f"event_id * 4 < "
        f"(SELECT (MAX(event_id) + 1) * {k + 2} FROM events)"
    )


def _x19_oracle() -> str:
    arms = []
    for k in range(X19_DELIVERIES):
        arms.append(f"""
    SELECT CAST({k} AS INTEGER) AS delivery_id, user_id, state,
           valid_from, valid_to
    FROM (
      WITH ev AS (SELECT user_id, ts, event_id, event_type FROM events
                  WHERE {_x19_cut_sql(k)}),
      ordered AS (
        SELECT user_id, ts, event_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev
        FROM ev
      ),
      runs AS (
        SELECT user_id, event_type, ts, event_id FROM ordered
        WHERE prev IS NULL OR prev <> event_type
      )
      SELECT user_id, event_type AS state, ts AS valid_from,
             LEAD(ts) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS valid_to
      FROM runs
    ) a{k}""")
    return "\nUNION ALL\n".join(arms)


@query("x19_stream_scd2_dim", _x19_oracle(), survey="X7,D2,D3,D4,W2")
def x19_stream_scd2_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SCD2 user-state dimension maintained under a stream of
    deliveries and served after each: the merge family's member of the
    streamed maintained-index convention (x14 BM25, x15 clusters, x16
    ANN, x17 spans).  The event feed splits into a base quarter plus
    three in-order deliveries (id quartiles are time quartiles in the
    synthetic feed; a deployment's watermark gives the same in-order
    guarantee).  Each delivery folds only its keys' open rows.  The
    oracle restates each prefix corpus through the d5 SQL from
    scratch, so hash equality proves the fold chain equals a rebuild
    at every delivery.

    Serving the whole dimension per delivery is the test-scale oracle
    contract; a deployment upserts the recomputed rows key-bucketed.

    A key's fold never reads another key, so the plan is one
    ``max(event_id) + 1`` collect, then :func:`_x19_kernel` once per
    user bucket (``pmod(xxhash64(user_id), width)``; bucketing keeps
    the group count at the session width, where grouping by raw
    ``user_id`` pays a Python call per user), then one local
    checkpoint.  An in-order violation surfaces as the kernel's
    ``ValueError`` inside a ``PythonException``."""
    from hfcommunity_spark.session import default_parallelism

    width = default_parallelism()
    ev = read_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    n_top = ev.agg(
        (F.max("event_id") + 1).alias("n")
    ).collect()[0].n  # one-row bounded collect (the codebook rule)
    ts = ev.schema["ts"].dataType.simpleString()
    out = ev.groupBy(
        F.pmod(F.xxhash64("user_id"), F.lit(width))
    ).applyInArrow(
        lambda t: _x19_kernel(t, n_top),
        "delivery_id int, user_id long, state string, "
        f"valid_from {ts}, valid_to {ts}",
    )
    return out.coalesce(width).localCheckpoint()
