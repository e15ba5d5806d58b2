"""IO layer: testdata loaders, snapshot-dir Parquet writes, JDBC parity.

The reference's only sink is row-at-a-time MariaDB INSERTs
(extractor/databaseImport.py:276-806); its release artifact is a monthly
dump (README.md:15).  Our canonical storage is partitioned Parquet with
immutable snapshot directories (``release=YYYY-MM``) written atomically
(build new dir, swap pointer) — the set-oriented equivalent of D4
idempotent re-runs.
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor
from typing import Callable, TypeVar

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.util import inheritable_thread_target

# Driver-generated synthetic tables (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Analyzed-relation memo for the IMMUTABLE driver corpora only: each
# spark.read.parquet re-lists the directory and re-reads a footer for
# schema inference (~tens of ms), which across a 177-query bench pass
# over the same ten tables is pure repeated work.  DataFrames are
# immutable lazy plans, so reusing one instance across queries is
# safe; the memo is restricted to /root/testdata/ (read-only by the
# environment contract) so paths a session may REWRITE — rehearsal
# corpora, test tmp dirs, snapshot outputs — always re-list.  Keyed by
# applicationId via the standard session cache (driver-side object
# store, no persist; other-app entries evicted on use).
from hfcommunity_spark.session_cache import SessionCache

_READ_MEMO = SessionCache(persist=False)
_MEMO_ROOTS = ("/root/testdata/",)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table. Parquet scan → column pruning and
    predicate pushdown happen automatically once the caller selects /
    filters (verify with .explain: PushedFilters / ReadSchema).

    events.ts is written as parquet TIMESTAMP(NANOS) which Spark has no
    native type for: read nanos as long (legacy conf, runtime-settable)
    and convert to a microsecond TimestampType.  The generator emits
    whole-microsecond values, so the ns→us conversion is lossless.

    The conf is deliberately left set on the session afterwards: the
    returned frame is LAZY, so restoring the conf before the caller's
    action would flip the scan's type resolution mid-plan.  Session
    consequence (documented trade-off): any LATER read of an unrelated
    nanos-timestamp parquet in the same session also surfaces LongType
    — this engine's own tables all want that; a caller needing native
    nanos-rejection semantics must unset the conf explicitly.
    """
    def build() -> DataFrame:
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
            if isinstance(df.schema["ts"].dataType, T.LongType):
                df = df.withColumn(
                    "ts",
                    F.timestamp_micros(F.expr("ts div 1000").cast("long")),
                )
            return df
        return spark.read.parquet(f"{sf_dir}/{name}.parquet")

    if any(sf_dir.startswith(r) for r in _MEMO_ROOTS):
        return _READ_MEMO.get_or_build(spark, (sf_dir, name), build)
    return build()


def write_snapshot(df: DataFrame, base_dir: str, table: str, release: str,
                   partition_by: list[str] | None = None) -> str:
    """Write an immutable snapshot dir ``{base}/{table}/release={release}``.

    Spark's directory-level commit protocol makes the write all-or-
    nothing; re-running a month overwrites only that month's partition —
    the idempotency the reference gets from INSERT IGNORE / upserts
    (databaseImport.py:277,:641) without read-modify-write.
    """
    path = f"{base_dir}/{table}/release={release}"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
    return path


R = TypeVar("R")


def concurrently(spark: SparkSession,
                 calls: list[tuple[str, Callable[[], R]]]) -> list[R]:
    """Run each ``(description, call)`` on its own thread, all at once,
    and return their results in order.

    Each thread keeps the caller's local properties, its job group
    among them (``inheritable_thread_target``), and sets
    ``description`` as its jobs' description.  Every call is waited
    for, even after one has failed; then the first failure in
    submission order is raised, so no job a call started is still
    running when the caller sees it."""
    sc = spark.sparkContext

    def described(description: str, call: Callable[[], R]) -> R:
        sc.setJobDescription(description)
        return call()

    with ThreadPoolExecutor(max_workers=len(calls)) as pool:
        futures = [
            pool.submit(inheritable_thread_target(spark)(described), d, c)
            for d, c in calls
        ]
    return [f.result() for f in futures]


def write_release(tables: dict[str, DataFrame], base_dir: str,
                  release: str) -> dict[str, int]:
    """Write every table's snapshot of one release at once
    (:func:`write_snapshot`, one thread per table, jobs described
    ``io.write.<table>``) and return each table's row count.  A count
    is observed while its snapshot is written (``DataFrame.observe``),
    so no snapshot is read back to be counted."""

    def write(name: str, df: DataFrame) -> int:
        obs = Observation(f"rows.{name}")
        write_snapshot(df.observe(obs, F.count(F.lit(1)).alias("rows")),
                       base_dir, name, release)
        return obs.get["rows"]

    spark = next(iter(tables.values())).sparkSession
    counts = concurrently(spark, [
        (f"io.write.{name}", lambda name=name, df=df: write(name, df))
        for name, df in tables.items()
    ])
    return dict(zip(tables, counts))


SNAPSHOT_FORMATS = ("parquet", "orc", "json", "csv")


def export_table(df: DataFrame, out_dir: str, fmt: str = "parquet",
                 **options) -> str:
    """Utility export in any interchange format a downstream consumer
    asks for (SURVEY S15: Parquet primary, JSON for API payloads, CSV
    utility; ORC for engines that prefer it).  Same directory-level
    atomic commit as :func:`write_snapshot`; columnar formats keep
    predicate/projection pushdown, row formats are for handoff only.
    CSV callers should pass header=True and mind that arrays/structs
    are not CSV-representable (Spark raises — by design, not silently
    stringified)."""
    if fmt not in SNAPSHOT_FORMATS:
        raise ValueError(
            f"unsupported format {fmt!r}; one of {SNAPSHOT_FORMATS}"
        )
    df.write.mode("overwrite").options(**options).format(fmt).save(out_dir)
    return out_dir


def read_export(spark: SparkSession, path: str, fmt: str = "parquet",
                schema=None, **options) -> DataFrame:
    """Read back an :func:`export_table` directory.  Pass the schema
    for row formats (JSON/CSV) — inference re-types columns silently,
    which the oracle gate would catch but a pipeline should never
    rely on."""
    reader = spark.read.options(**options)
    if schema is not None:
        reader = reader.schema(schema)
    return reader.format(fmt).load(path)


def write_epoch_shards(export: DataFrame, docs: DataFrame,
                       out_dir: str) -> str:
    """Materialize the final training export: join the shard/pack
    manifest (``pipe_curate_select_pack_shard``'s output: doc_id,
    shard, pos, bin_*) back to the document text and write ONE parquet
    directory partitioned by shard, each shard's rows sorted by pos —
    the files a data loader streams in training order.

    Scale shape: the manifest side is the selection (small relative to
    the corpus), so the text join is a semi-bounded broadcast/hash
    join; ``repartition(shard)`` gives each shard exactly one writer
    lineage and ``sortWithinPartitions(shard, pos)`` is the per-shard
    sort the epoch plan deliberately deferred to the writer
    (``samp_epoch_shard_plan`` docstring) — no global sort at any
    scale.  The directory-level commit protocol makes the export
    all-or-nothing like :func:`write_snapshot`."""
    joined = export.join(docs.select("doc_id", "text"), "doc_id")
    (
        joined.repartition("shard")
        .sortWithinPartitions("shard", "pos")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(out_dir)
    )
    return out_dir


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append",
               **options) -> None:
    """MariaDB-parity sink (reference sink: databaseImport.py:130,:312).
    Not exercised in tests (no DB in the container); kept as the
    documented escape hatch for drop-in replacement of the reference."""
    df.write.mode(mode).options(**options).jdbc(url, table)
