"""Reference-parity ETL entry point.

Mirrors the reference's ``python databaseImport.py`` CLI
(reference/extractor/databaseImport.py:828-951) flag for flag, on the
set-at-a-time architecture:

  -c              create the 17-table schema and exit (:885-890)
  -t TYPE         model | dataset | space | all (:840)
  -i N            month window: watermark = month-floor(now − N months)
                  (:858-868); with --prev-release, stale repos take the
                  reference's UPDATE-then-CONTINUE path (:608-619):
                  repository likes and model/dataset downloads refresh,
                  and the repo contributes nothing else this run
  -s MAX_COMMITS  commit-count threshold skip (:374-382)
  --skiplist      comma-separated repo ids to exclude (P3, :624)

Where the reference pages the live API row-at-a-time into MariaDB,
this entry point reads the five JSONL feeds (``sources/hub_feeds.py``
— the landed-dump scale path; ``etl/hub_live.py`` produces the same
rows from the live API when ``huggingface_hub`` is installed), builds
all 17 tables as one declarative plan (``etl/pipeline.run_offline``),
and writes immutable release snapshots (``io.write_release`` —
directory-commit idempotency instead of INSERT IGNORE).  A load reads
its input once and writes its output once, in two waves of concurrent
Spark jobs on one scheduler: first each feed the selection reads is
parsed into its persisted cache (one thread per feed), then all 17
table snapshots are written at once from those caches (one thread per
table), each table's row count observed as its snapshot is written,
not read back.  The closing wall-clock report mirrors :946-951.

Usage:
  python -m hfcommunity_spark.cli --feeds DIR --base DIR --release R \\
      [-t all] [-i 6] [-s 10000] [--prev-release R0] [--skiplist a,b]
  python -m hfcommunity_spark.cli --base DIR -c
"""

from __future__ import annotations

import argparse
import sys
import time

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hfcommunity_spark.etl import pipeline
from hfcommunity_spark.io import concurrently, write_release
# Unused here but kept bound: the traced benchmark swaps this name for
# a wrapper that switches one span shared by the whole load, so the
# writer threads call io's own write_snapshot, not this one.
from hfcommunity_spark.io import write_snapshot  # noqa: F401
from hfcommunity_spark.schema import SCHEMAS
from hfcommunity_spark.sources import hub_feeds

REPO_TYPES = ("model", "dataset", "space")


def _parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="hfcommunity_spark.cli",
        description="HFCommunity ETL: JSONL feeds -> 17-table snapshot",
    )
    p.add_argument("-t", "--type", default="all",
                   choices=(*REPO_TYPES, "all"))
    p.add_argument("-i", "--months", type=int, default=None,
                   help="watermark window in months (month-floored)")
    p.add_argument("-s", "--max-commits", type=int, default=None,
                   help="skip commit history of repos above this count")
    p.add_argument("-c", "--create-schema", action="store_true",
                   help="create the 17-table schema and exit")
    p.add_argument("--feeds", help="directory of {kind}.jsonl feeds")
    p.add_argument("--base", default=None,
                   help="snapshot root (and schema location for -c); "
                        "for --query, the directory of parquet tables")
    p.add_argument("--release", default=None,
                   help="release tag for this snapshot run")
    p.add_argument("--prev-release", default=None,
                   help="previous release to load incrementally against")
    p.add_argument("--skiplist", default="",
                   help="comma-separated repo ids to exclude (P3)")
    p.add_argument("--sql", default=None, metavar="QUERY",
                   help="analysis mode: run SQL over the release's 17 "
                        "tables (registered as views) and print rows")
    p.add_argument("--metric", default=None,
                   help="analysis mode: run a published metric by name "
                        "(metrics.ALL_METRICS) over the release")
    p.add_argument("--query", default=None, metavar="NAME",
                   help="analysis mode: run a declared registry query "
                        "by name against --base (a directory of "
                        "{table}.parquet files)")
    p.add_argument("--list-queries", action="store_true",
                   help="print the declared-query registry and exit")
    p.add_argument("--limit", type=int, default=50,
                   help="max rows printed in analysis mode")
    return p


def _register_release(spark: SparkSession, base: str,
                      release: str) -> dict[str, "object"]:
    """Register the 17 snapshot tables of one release as temp views —
    the analysis entry point the reference delegates to the MariaDB
    client (SURVEY §3.3): user SQL goes straight to Catalyst."""
    tables = {}
    for name in SCHEMAS:
        df = spark.read.schema(SCHEMAS[name]).parquet(
            f"{base}/{name}/release={release}"
        )
        df.createOrReplaceTempView(name)
        tables[name] = df
    return tables


def run(spark: SparkSession, args: argparse.Namespace) -> dict[str, int]:
    """The populate lifecycle (:828 main body).  Returns per-table row
    counts (the :946-951 report data).

    A load runs in two waves of concurrent jobs:

    1. Each feed is parsed once: the five feed frames are persisted
       (MEMORY_AND_DISK) before any filter, and the caches of the
       feeds the selection reads are filled at once, one ``noop``
       write per feed on its own thread (jobs described
       ``feeds.cache.<kind>``).  ``-t model`` fills no dataset or
       space cache.  Filled first, no table write plans a fill of its
       own, so the job count does not depend on the writes' timing.
    2. All 17 tables are written at once from those caches
       (``io.write_release``), each table's row count observed while
       its snapshot is written, so no snapshot is read back.

    Each wave waits for every job it started before it raises the
    first failure, and the feeds are unpersisted on the way out
    whether the load succeeds or fails."""
    feeds = hub_feeds.read_all_feeds(spark, args.feeds)
    parsed = [df.persist(StorageLevel.MEMORY_AND_DISK)
              for df in feeds.values()]
    try:
        unread = _unselected_feeds(args.type)
        concurrently(spark, [
            (f"feeds.cache.{kind}",
             lambda df=df: df.write.format("noop").mode("overwrite").save())
            for kind, df in feeds.items() if kind not in unread
        ])
        return _load(spark, args, feeds)
    finally:
        for df in parsed:
            df.unpersist()


def _unselected_feeds(repo_type: str) -> set[str]:
    """The repository feeds a ``-t`` selection does not read."""
    return {f"{t}s" for t in REPO_TYPES if repo_type not in ("all", t)}


def _load(spark: SparkSession, args: argparse.Namespace,
          feeds: dict[str, DataFrame]) -> dict[str, int]:
    # -t: unselected repo types flow as empty frames — the pipeline
    # plan is identical, the scans are zero-row.  The commits and
    # discussions feeds carry the repo type in their id prefix
    # ("models/org/x"), so they are pruned by the SAME selection —
    # otherwise an unselected type's commits would land as orphan
    # rows against an empty repository set (round-5 review finding)
    for kind in _unselected_feeds(args.type):
        feeds[kind] = feeds[kind].limit(0)
    if args.type != "all":
        pref = f"{args.type}s/"
        for kind in ("commits", "discussions"):
            feeds[kind] = feeds[kind].filter(
                F.col("repo_id").startswith(pref)
            )
    skiplist = tuple(s for s in args.skiplist.split(",") if s)
    if skiplist:
        # run_offline applies the P3 skiplist to the repo feeds; the
        # commits/discussions feeds must honor it too or excluded
        # repos leave orphan child rows (round-5 review finding)
        for kind in ("commits", "discussions"):
            feeds[kind] = feeds[kind].filter(
                ~F.col("repo_id").isin(*skiplist)
            )

    stale_updates: dict[str, "object"] = {}
    if args.prev_release is not None and args.months is not None:
        # The reference's stale path is UPDATE-then-CONTINUE
        # (:608-619): a stale repo refreshes likes (and model/dataset
        # downloads) but contributes NOTHING else this run — no
        # files, tags, commits, discussions.  Set-at-a-time: stale
        # repos leave every feed BEFORE the pipeline runs, and their
        # (id, likes, downloads) refresh frames are kept aside for
        # the partial-update merge below.  The watermark is ONE
        # driver-resolved literal, not current_timestamp() in the
        # plan, so all 17 table writes split identically.
        from hfcommunity_spark.etl.incremental import (
            limit_date_value,
            split_by_watermark,
        )
        from hfcommunity_spark.etl.normalize import repo_full_id

        wm = F.lit(limit_date_value(args.months))
        stale_id_frames = []
        for t in REPO_TYPES:
            kind = f"{t}s"
            feeds[kind], stale_feed = split_by_watermark(feeds[kind], wm)
            cols = ["likes"] + (
                ["downloads"] if t in ("model", "dataset") else []
            )
            stale_updates[t] = stale_feed.select(
                repo_full_id(F.lit(t), F.col("name")).alias("id"), *cols
            )
            stale_id_frames.append(stale_updates[t].select("id"))
        stale_ids = stale_id_frames[0]
        for part in stale_id_frames[1:]:
            stale_ids = stale_ids.unionByName(part)
        for kind in ("commits", "discussions"):
            feeds[kind] = feeds[kind].join(
                stale_ids.withColumnRenamed("id", "repo_id"),
                "repo_id", "left_anti",
            )

    tables = pipeline.run_offline(
        spark,
        feeds["models"], feeds["datasets"], feeds["spaces"],
        feeds["commits"], feeds["discussions"],
        skiplist=skiplist,
        max_num_commits=args.max_commits,
    )

    if args.prev_release is not None:
        from hfcommunity_spark.etl.incremental import (
            incremental_release_merge,
        )

        prev_tables = {
            name: spark.read.schema(SCHEMAS[name]).parquet(
                f"{args.base}/{name}/release={args.prev_release}"
            )
            for name in SCHEMAS
        }
        tables = incremental_release_merge(
            prev_tables, tables, stale_updates
        )

    return write_release(tables, args.base, args.release)


def main(argv: list[str] | None = None) -> int:
    args = _parser().parse_args(argv)
    if args.list_queries:
        # no Spark session needed: the registry is plain metadata
        from hfcommunity_spark.queries import all_queries

        for name, spec in sorted(all_queries().items()):
            kind = "oracle" if spec.oracle else "rows-only"
            print(f"{name:42s} {kind:9s} {','.join(spec.survey_ids)}")
        return 0
    if args.query:
        # validate BEFORE paying JVM/session startup: both checks are
        # plain metadata, like the --list-queries branch above
        if not args.base:
            print("error: --base (table directory) is required for "
                  "--query", file=sys.stderr)
            return 2
        from hfcommunity_spark.queries import all_queries

        qs = all_queries()
        if args.query not in qs:
            print(f"error: unknown query {args.query!r}; see "
                  f"--list-queries", file=sys.stderr)
            return 2
    if not args.base:
        print("error: --base is required", file=sys.stderr)
        return 2
    from hfcommunity_spark.session import get_spark

    spark = get_spark(app_name="hfcommunity-etl")
    if args.query:
        # run one declared query against a directory of parquet
        # tables — the full declared inventory through the same CLI
        # the ETL uses, no Python required of the user
        qs[args.query].spark(spark, args.base).show(
            args.limit, truncate=False
        )
        return 0
    if args.create_schema:
        from hfcommunity_spark.catalog import create_schema

        created = create_schema(spark, args.base)
        print(f"schema: created {len(created)} tables at {args.base}")
        return 0
    if args.sql or args.metric:
        if not args.release:
            print("error: --release is required for analysis mode",
                  file=sys.stderr)
            return 2
        tables = _register_release(spark, args.base, args.release)
        if args.sql:
            df = spark.sql(args.sql)
        else:
            from hfcommunity_spark.metrics import ALL_METRICS

            if args.metric not in ALL_METRICS:
                print(f"error: unknown metric {args.metric!r}; one of "
                      f"{sorted(ALL_METRICS)}", file=sys.stderr)
                return 2
            df = ALL_METRICS[args.metric](tables)
        df.show(args.limit, truncate=False)
        return 0
    if not args.feeds or not args.release:
        print("error: --feeds and --release are required for a load",
              file=sys.stderr)
        return 2
    if args.months is not None and args.prev_release is None:
        # the reference applies -i against the existing database; our
        # "existing database" is the previous release — a bare -i
        # would silently do nothing (round-5 review finding)
        print("error: -i/--months requires --prev-release (the "
              "watermark splits against the previous release)",
              file=sys.stderr)
        return 2

    t0 = time.monotonic()
    counts = run(spark, args)
    elapsed = time.monotonic() - t0
    for name in sorted(counts):
        print(f"{name:24s} {counts[name]:>10d}")
    print(f"populated {len(counts)} tables in {elapsed:.1f}s "
          f"(release={args.release})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
