"""Catalog / DDL layer (SURVEY §2.1 S11/S13): the reference's
create_schema_mysql (databaseImport.py:150-253) and information_schema
probe (:61-75) re-expressed against the Spark catalog.

No FK-safe drop ordering is needed (FKs are audit-time metadata,
schema.FOREIGN_KEYS); table creation is per-table idempotent
(CREATE TABLE IF NOT EXISTS ... USING PARQUET), mirroring the
reference's IF NOT EXISTS DDL.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from hfcommunity_spark.schema import SCHEMAS


def _strip_scheme(path: str) -> str:
    """Local-filesystem view of a table location: drop a ``file:``
    scheme if present.  The existence pre-check below is only
    meaningful for local paths; remote schemes (s3://, hdfs://) are
    left untouched and the repair runs unconditionally for them."""
    return path[len("file:"):] if path.startswith("file:") else path


def qualified(spark: SparkSession, name: str) -> str:
    """``db.name`` in the current database.  An unqualified name also
    resolves to a temp view of that name (the analysis mode registers
    all 17), which would shadow the catalog table."""
    return f"`{spark.catalog.currentDatabase()}`.`{name}`"


def table_exists(spark: SparkSession, name: str) -> bool:
    """Catalog introspection (information_schema.TABLES probe, :70-75):
    is ``name`` a table of the current database?  Temp views of the
    same name do not count."""
    return spark.catalog.tableExists(qualified(spark, name))


def missing_tables(spark: SparkSession) -> list[str]:
    """The check_database_schema walk (:61-75): which of the 17 are
    absent from the catalog."""
    return [t for t in SCHEMAS if not table_exists(spark, t)]


def create_schema(spark: SparkSession, base_dir: str,
                  if_not_exists: bool = True) -> list[str]:
    """Create all 17 tables as external parquet tables rooted at
    ``base_dir/<table>`` (the auto-create at :909-914), PARTITIONED BY
    release to match ``write_snapshot``'s ``release=<tag>`` directory
    layout — a non-partitioned table over that location would merge
    every release's rows into one unfiltered scan and silently grow a
    release column not in SCHEMAS (round-6 review finding).  Partition
    discovery runs (MSCK REPAIR) so releases already on disk are
    queryable immediately; re-run it (or create the schema again) after
    new releases land.  Returns the tables actually created."""
    created = []
    clause = "IF NOT EXISTS " if if_not_exists else ""
    for name, schema in SCHEMAS.items():
        if if_not_exists and table_exists(spark, name):
            continue
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
        spark.sql(
            f"CREATE TABLE {clause}{qualified(spark, name)} "
            f"({ddl}, `release` STRING) "
            f"USING PARQUET PARTITIONED BY (`release`) "
            f"LOCATION '{base_dir}/{name}'"
        )
        # the location may not exist yet (-c before any load) — an
        # empty table needs no partition discovery; but a REAL repair
        # failure (permissions, corrupt layout) must propagate, or
        # on-disk releases stay silently unqueryable (ADVICE r6)
        loc = os.path.join(base_dir, name)
        local = _strip_scheme(loc)
        # the os.path.exists short-circuit is only sound when the
        # table location really resolves to the DRIVER's filesystem:
        # explicit file: scheme, or schemeless with a local/unset
        # fs.defaultFS.  A schemeless path under an hdfs/s3a default
        # FS must NOT be probed locally — the probe would fail and
        # silently skip the repair, leaving on-disk releases
        # unqueryable (ADVICE r7)
        if loc.startswith("file:"):
            resolves_locally = True
        elif "://" in loc:
            resolves_locally = False
        else:
            default_fs = (
                spark.sparkContext._jsc.hadoopConfiguration()
                .get("fs.defaultFS", "file:///")
            )
            resolves_locally = default_fs.startswith("file:")
        if not resolves_locally or os.path.exists(local):
            spark.sql(f"MSCK REPAIR TABLE {qualified(spark, name)}")
        created.append(name)
    return created


def drop_schema(spark: SparkSession) -> None:
    """Drop all 17 tables (the reference's DROP block :161-177; order
    is irrelevant without FK enforcement)."""
    for name in SCHEMAS:
        spark.sql(f"DROP TABLE IF EXISTS {qualified(spark, name)}")
