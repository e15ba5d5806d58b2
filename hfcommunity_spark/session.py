"""SparkSession factory.

Defaults chosen for correctness parity with the reference's MariaDB
environment (UTC wall-clock timestamps — reference
extractor/databaseImport.py:860,:866 pins pytz.UTC) and for scale
(AQE on, skew-join handling, Arrow for any pandas exchange).

On a real cluster the same factory applies; only ``master`` and the
shuffle-partition count change (rule of thumb: 2-3× total executor
cores, here tied to local core count).

Catalyst compiles every physical plan's generated Java with Janino and
keeps the classes in ONE JVM-wide LRU cache,
``spark.sql.codegen.cache.maxEntries`` (default 100).  Our working
sets are larger: one CLI load generates ~150 classes, one pass of the
19 perfbench ``inventory`` faces ~400, one pass of all 181 faces at
sf0.1 ~1,300-1,600.  A pass walks its classes in the same cycle each
time, so an LRU smaller than the cycle evicts each class before its
reuse, and every warm call recompiles (and HotSpot JIT-compiles the
fresh classes again).  So the cache holds 4096 classes: the full
181-face pass plus a load, with headroom.

Measured on 4 cores (``SPARK_GRAFT_CPUS=4``), default -> this factory:

* a warm CLI load of the ``tests/test_cli.py`` feeds: ~150 -> 0
  compiles;
* a warm pass of the 19 inventory faces at sf0.001: ~280 -> 0;
* all 181 faces at sf0.1, ``count()`` each, one run per side: the
  first pass compiles 2,143 -> 1,278 classes (133 -> 115 s), the
  second 1,712 -> 2 (73 -> 55 s);
* after that second pass, Metaspace 186 -> 194 MB and CodeHeap
  110 -> 123 MB.

The cache key is the generated source minus its comments.  Adaptive
execution numbers whole-stage codegen stages in the order its query
stages finish, which can differ from call to call of one face; by
default that id is part of the generated class name, so an identical
plan missed the cache (at 4096 alone the second 181-face pass still
recompiled 14 classes, 10 of them ``ret_maintained_bm25_parity``'s).
``spark.sql.codegen.useIdInClassName`` off keeps the id only in a
comment.  The 2 classes left are one face whose join build side flips
once, after its persisted index is cached; its third call compiles
none.

The cache size is a static conf, fixed once per JVM when the first
session is created: :func:`get_spark` called while a session already
exists returns that session, and its cache keeps the size it was
created with.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "hfcommunity-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cores = default_parallelism()
    master = master or f"local[{cores}]"
    shuffle = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Reference pins UTC for every DATETIME (databaseImport.py:860)
        .config("spark.sql.session.timeZone", "UTC")
        # AQE: runtime coalescing, skew-join splitting, dynamic join
        # strategy switch — load-bearing at 100 TB (mega-repo skew is a
        # documented reference pathology, databaseImport.py:374-382).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # allow Python data sources (sources/hubfeed_datasource.py) to
        # receive pushed filters
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # guarded limit(max+1) collects are the codebook's bounded-
        # collect discipline (graph merge probe, span delta, a16 cap);
        # the default CollectLimit scans 1 partition then scales up in
        # rounds — 3-4 jobs of pure overhead per guard when the limit
        # is not reached (the common case).  Scanning at session width
        # from the start makes every guard a single job.
        .config("spark.sql.limit.initialNumPartitions", str(shuffle))
        # local mode: one JVM is driver AND all 32 executor threads,
        # plus every session-persisted index frame (shingle posting
        # list, minhash bands, cosine pair set, ...).  8g measurably
        # GC-thrashes late in the 127-query bench (samp_* family ran
        # 2-5x slower than in isolation); 24g restores isolation-level
        # timings.  On a real cluster executors carry the cached
        # frames and the driver default can drop back down.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        # static conf, sized once per JVM: one load (~150 generated
        # classes), one 19-face inventory pass (~400) and one 181-face
        # pass (~1,300-1,600) each fit, so a warm call compiles
        # nothing (see the module docstring for the measurements)
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        # the stage id stays in a code comment, outside the cache key,
        # so a plan whose adaptive stage numbering differs from the
        # last call still hits the cache
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    return builder.getOrCreate()


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, seconds spent compiling them) by Janino in
    this JVM so far: Spark's ``CodegenMetrics`` compile count and
    ``CodeGenerator.compileTime``.  Differences across a call give the
    call's compiles; a cache hit adds to neither."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
        .CodeGenerator.compileTime()
    return int(n), ns / 1e9
