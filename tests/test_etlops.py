"""Behavioral tests for the ETL/runtime query faces (operators/etlops.py)
beyond the parametrized DuckDB parity in test_oracle_parity.py:
fixture determinism, idempotent snapshot re-runs, source-side limit
semantics, and the broadcast plan shape of the FK resolve."""

from __future__ import annotations

import os
import subprocess
import tempfile

import pytest

import hfcommunity_spark.operators.etlops as E
from tests.conftest import SF_ORACLE


def test_git_fixture_rebuild_is_deterministic(spark, tmp_path):
    """Two independent builds of the fixture repo, each into its own
    fresh directory, must yield the same commit hashes and the same
    scanned rows — pinned identities and dates make the repo
    reproducible, which is what lets the oracle check the numstat
    parse."""
    from hfcommunity_spark.etl.fetch import git_log_rows

    builds = []
    for name in ("a", "b"):
        out = tmp_path / name
        out.mkdir()
        E._build_git_fixture(spark, SF_ORACLE, str(out))
        repo = str(out / "fixture")
        shas = subprocess.run(
            ["git", "-C", repo, "log", "--format=%H"],
            capture_output=True, text=True, check=True,
        ).stdout.split()
        builds.append((shas, git_log_rows(repo)))
    (shas_a, rows_a), (shas_b, rows_b) = builds
    assert len(shas_a) == E._GIT_FIXTURE_DOCS
    assert shas_a == shas_b
    assert rows_a == rows_b


def test_snapshot_reread_idempotent(spark, tmp_path):
    """D4: two fresh builds of the snapshot, each a double write of
    the same release partition into its own directory, must read back
    value-identical."""
    reads = []
    for name in ("a", "b"):
        out = tmp_path / name
        out.mkdir()
        E._build_snapshot(spark, SF_ORACLE, str(out))
        back = spark.read.parquet(
            str(out / "customer_stats" / "release=2026-08")
        ).collect()
        reads.append(sorted(map(tuple, back)))
    assert reads[0] and reads[0] == reads[1]


def test_scratch_build_failure_leaves_nothing(tmp_path, monkeypatch):
    """A ``build`` that raises leaves the scratch root's listing as it
    was and publishes nothing; the next call builds, and later calls
    reuse the published directory without building.  A builder that
    loses the publish race uses the winner's directory."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = str(tmp_path / "sf")
    built = []

    def ok(out):
        built.append(out)
        with open(os.path.join(out, "data"), "w") as fh:
            fh.write("x")

    def boom(out):
        with open(os.path.join(out, "half"), "w") as fh:
            fh.write("x")
        raise RuntimeError("build failed")

    other = E._stable_scratch_dir("hfc_other_", sf, ok)
    root = os.path.dirname(other)
    before = sorted(os.listdir(root))
    with pytest.raises(RuntimeError, match="build failed"):
        E._stable_scratch_dir("hfc_test_", sf, boom)
    assert sorted(os.listdir(root)) == before

    final = E._stable_scratch_dir("hfc_test_", sf, ok)
    assert os.path.exists(os.path.join(final, "_COMPLETE"))
    assert os.path.exists(os.path.join(final, "data"))
    assert E._stable_scratch_dir("hfc_test_", sf, boom) == final
    assert len(built) == 2

    # lost race: another builder publishes while ours is building
    def winner(out):
        with open(os.path.join(out, "data"), "w") as fh:
            fh.write("winner")

    def racing(out):
        E._stable_scratch_dir("hfc_race_", sf, winner)
        ok(out)

    won = E._stable_scratch_dir("hfc_race_", sf, racing)
    with open(os.path.join(won, "data")) as fh:
        assert fh.read() == "winner"
    assert sorted(os.listdir(root)) == sorted(
        before + [os.path.basename(final), os.path.basename(won)]
    )


def test_feed_limit_caps_at_source(spark):
    """The hubfeed ``limit`` option caps rows inside the source read;
    a smaller limit returns a strict prefix of the sorted dump."""
    from hfcommunity_spark.sources.hubfeed_datasource import HubFeedDataSource

    spark.dataSource.register(HubFeedDataSource)
    feed_dir = E._models_feed_dir(spark, SF_ORACLE)

    def top(n):
        return (
            spark.read.format("hubfeed")
            .option("path", feed_dir)
            .option("kind", "models")
            .option("limit", n)
            .load()
            .select("name", "last_modified")
            .collect()
        )

    ten, thirty = top(10), top(30)
    assert len(ten) == 10 and len(thirty) == 30
    assert [r.name for r in ten] == [r.name for r in thirty[:10]]
    # dump is sorted desc by last_modified → returned rows are too
    stamps = [r.last_modified for r in thirty]
    assert stamps == sorted(stamps, reverse=True)


def test_j1_probe_is_broadcast(spark):
    """J1's build side must broadcast — the plan analog of the
    reference's driver-side {filename → id} dict probe."""
    plan = E.j1_fk_resolve_probe(spark, SF_ORACLE)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_s4_fetch_runs_per_key(spark):
    """Every doc id fans out to 1 + id % 3 sibling rows — the lateral
    cardinality contract of the repo_info fetch."""
    from pyspark.sql import functions as F

    out = E.s4_lateral_repo_files(spark, SF_ORACLE)
    per_key = out.groupBy("doc_id").count()
    bad = per_key.filter(
        F.col("count") != (F.col("doc_id") % 3 + 1)
    ).count()
    assert bad == 0
