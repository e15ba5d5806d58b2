"""Catalog DDL layer: create/drop the 17-table schema, probe for
missing tables, write+read a snapshot through the catalog."""

from __future__ import annotations

from pyspark.sql import functions as F

from hfcommunity_spark import catalog
from hfcommunity_spark.io import write_snapshot
from hfcommunity_spark.schema import SCHEMAS


def test_create_probe_drop_schema(spark, tmp_path):
    base = str(tmp_path / "warehouse")
    try:
        assert sorted(catalog.missing_tables(spark)) == sorted(SCHEMAS)
        created = catalog.create_schema(spark, base)
        assert sorted(created) == sorted(SCHEMAS)
        assert catalog.missing_tables(spark) == []
        assert catalog.table_exists(spark, "repository")

        # idempotent re-create (IF NOT EXISTS, :909-914)
        assert catalog.create_schema(spark, base) == []

        # typed empty table is queryable with the declared schema
        # plus the trailing release partition column (the catalog
        # mirrors write_snapshot's release=<tag> layout; round-6
        # review finding — a non-partitioned table would merge every
        # release's rows)
        df = spark.table(catalog.qualified(spark, "commits"))
        got = [(f.name, f.dataType) for f in df.schema.fields]
        want = [(f.name, f.dataType) for f in SCHEMAS["commits"].fields]
        from pyspark.sql import types as T

        assert got == want + [("release", T.StringType())]
        assert df.count() == 0
    finally:
        catalog.drop_schema(spark)
    assert sorted(catalog.missing_tables(spark)) == sorted(SCHEMAS)


def test_catalog_partitions_releases(spark, tmp_path):
    """Two loaded releases must NOT merge in catalog queries: the
    partitioned table exposes each under its release value, a
    release-filtered count sees one release only, and the partition
    filter prunes the scan."""
    base = str(tmp_path / "wh2")
    df = spark.createDataFrame([("a",), ("b",)], ["name"])
    try:
        for rel in ("2024-01", "2024-02"):
            write_snapshot(df, base, "tag", rel)
        catalog.create_schema(spark, base)
        tag = spark.table(catalog.qualified(spark, "tag"))
        assert tag.count() == 4  # both releases visible, labeled
        one = tag.filter(F.col("release") == "2024-01")
        assert one.count() == 2
        plan = one._jdf.queryExecution().executedPlan().toString()
        import re

        assert re.search(r"PartitionFilters: \[[^\]]*release", plan)
    finally:
        catalog.drop_schema(spark)


def test_snapshot_roundtrip(spark, tmp_path):
    base = str(tmp_path / "snap")
    df = spark.createDataFrame([("t1",), ("t2",)], ["name"])
    path = write_snapshot(df, base, "tag", "2024-06")
    back = spark.read.parquet(path)
    assert sorted(r.name for r in back.collect()) == ["t1", "t2"]
    # idempotent re-run of the same release overwrites atomically (D4)
    write_snapshot(df.filter(F.col("name") == "t1"), base, "tag", "2024-06")
    assert spark.read.parquet(path).count() == 1


def test_temp_view_does_not_shadow_catalog_table(spark, tmp_path):
    """The analysis mode registers the 17 names as temp views; a view
    named ``repository`` must not pass for the catalog table."""
    spark.createDataFrame([("x",)], ["id"]).createOrReplaceTempView(
        "repository")
    try:
        assert not catalog.table_exists(spark, "repository")
        assert "repository" in catalog.missing_tables(spark)
        created = catalog.create_schema(spark, str(tmp_path / "wh3"))
        assert sorted(created) == sorted(SCHEMAS)
        assert catalog.table_exists(spark, "repository")
        catalog.drop_schema(spark)
        assert not catalog.table_exists(spark, "repository")
        # the view itself is untouched by create and drop
        assert spark.table("repository").columns == ["id"]
    finally:
        catalog.drop_schema(spark)
        spark.catalog.dropTempView("repository")
