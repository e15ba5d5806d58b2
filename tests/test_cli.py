"""The reference-parity CLI end-to-end: JSONL feeds -> 17 release
snapshots, type selection, schema-create mode, idempotent re-run, and
the watermark-incremental repository load."""

from __future__ import annotations

import json

import pytest

from hfcommunity_spark import cli
from hfcommunity_spark.schema import SCHEMAS
from tests.test_hub_feeds import COMMITS, DATASETS, DISCUSSIONS, MODELS, SPACES


@pytest.fixture(scope="module")
def feed_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("cli_feeds")
    for kind, rows in [("models", MODELS), ("datasets", DATASETS),
                       ("spaces", SPACES), ("commits", COMMITS),
                       ("discussions", DISCUSSIONS)]:
        with open(d / f"{kind}.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
    return str(d)


def test_cli_full_load_and_rerun(spark, feed_dir, tmp_path, capsys):
    base = str(tmp_path / "snap")
    argv = ["--feeds", feed_dir, "--base", base, "--release", "r1"]
    assert cli.main(argv) == 0
    out = capsys.readouterr().out
    assert "populated 17 tables" in out

    for name in SCHEMAS:
        df = spark.read.parquet(f"{base}/{name}/release=r1")
        assert df.columns  # snapshot written with a schema

    assert spark.read.parquet(
        f"{base}/repository/release=r1").count() == 3

    # idempotent re-run: directory-commit overwrite, same result
    assert cli.main(argv) == 0
    assert spark.read.parquet(
        f"{base}/repository/release=r1").count() == 3


def test_cli_type_selection(spark, feed_dir, tmp_path):
    base = str(tmp_path / "snap_t")
    assert cli.main(["--feeds", feed_dir, "--base", base,
                     "--release", "r1", "-t", "model"]) == 0
    repo = spark.read.parquet(f"{base}/repository/release=r1")
    assert [r.type for r in repo.collect()] == ["model"]
    assert spark.read.parquet(f"{base}/dataset/release=r1").count() == 0


def test_cli_schema_create(spark, tmp_path, capsys):
    base = str(tmp_path / "ddl")
    assert cli.main(["--base", base, "-c"]) == 0
    assert "created 17 tables" in capsys.readouterr().out
    from hfcommunity_spark.catalog import drop_schema, table_exists

    assert table_exists(spark, "repository")
    drop_schema(spark)


def test_cli_requires_feeds_for_load(tmp_path, capsys):
    assert cli.main(["--base", str(tmp_path)]) == 2
    assert "required" in capsys.readouterr().err


def test_cli_incremental_stale_updates_likes_only(
    spark, feed_dir, tmp_path
):
    base = str(tmp_path / "snap_inc")
    assert cli.main(["--feeds", feed_dir, "--base", base,
                     "--release", "r1"]) == 0

    # second run: same repos arrive with bumped likes + changed sha;
    # every last_modified (2024) is older than the -i 1 watermark, so
    # the incremental path must take D3 (likes only), not the upsert
    d2 = tmp_path / "feeds2"
    d2.mkdir()
    bump = lambda r: {**r, "likes": r["likes"] + 100, "sha": "f" * 40}
    for kind, rows in [("models", [bump(r) for r in MODELS]),
                       ("datasets", [bump(r) for r in DATASETS]),
                       ("spaces", [bump(r) for r in SPACES]),
                       ("commits", COMMITS), ("discussions", DISCUSSIONS)]:
        with open(d2 / f"{kind}.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    assert cli.main(["--feeds", str(d2), "--base", base,
                     "--release", "r2", "--prev-release", "r1",
                     "-i", "1"]) == 0
    r2 = {
        r.id: r
        for r in spark.read.parquet(
            f"{base}/repository/release=r2").collect()
    }
    m = r2["models/org/m1"]
    assert m.likes == 103      # stale row: likes updated (D3)
    assert m.sha == "a" * 40   # ...but nothing else touched

    # subtype stale path: downloads-only (reference :697-706)
    d = {r.dataset_id: r for r in spark.read.parquet(
        f"{base}/dataset/release=r2").collect()}["datasets/org/d1"]
    assert d.downloads == 2    # unchanged (feed value identical)
    # every child table carried forward -- no vanishing rows
    for name in ("commits", "repo_file", "tags_in_repo", "tag"):
        n1 = spark.read.parquet(f"{base}/{name}/release=r1").count()
        n2 = spark.read.parquet(f"{base}/{name}/release=r2").count()
        assert n2 >= n1, name


def test_cli_incremental_carries_absent_repos_forward(
    spark, feed_dir, tmp_path
):
    """A repo absent from today's feed must keep its repository row
    AND its subtype/child rows in the new release (round-5 review
    finding: rebuilding children from the current feed alone made
    carried-forward repos internally inconsistent)."""
    base = str(tmp_path / "snap_cf")
    assert cli.main(["--feeds", feed_dir, "--base", base,
                     "--release", "r1"]) == 0

    d2 = tmp_path / "feeds_cf"
    d2.mkdir()
    # r2 feed: models only -- datasets/spaces/commits/discussions empty
    for kind, rows in [("models", MODELS), ("datasets", []),
                       ("spaces", []), ("commits", []),
                       ("discussions", [])]:
        with open(d2 / f"{kind}.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    assert cli.main(["--feeds", str(d2), "--base", base,
                     "--release", "r2", "--prev-release", "r1"]) == 0
    repo2 = {r.id for r in spark.read.parquet(
        f"{base}/repository/release=r2").collect()}
    assert "datasets/org/d1" in repo2 and "spaces/org/s1" in repo2
    assert spark.read.parquet(
        f"{base}/dataset/release=r2").count() == 1   # subtype kept
    assert spark.read.parquet(
        f"{base}/commits/release=r2").count() == spark.read.parquet(
        f"{base}/commits/release=r1").count()        # children kept


def test_cli_type_selection_prunes_other_types_children(
    spark, tmp_path
):
    """-t model must also prune commits/discussions of OTHER repo
    types -- otherwise they land as orphans against an empty
    repository set (round-5 review finding)."""
    d = tmp_path / "feeds_orphan"
    d.mkdir()
    ds_commit = {**COMMITS[0], "repo_id": "datasets/org/d1",
                 "sha": "9" * 40}
    for kind, rows in [("models", MODELS), ("datasets", DATASETS),
                       ("spaces", SPACES),
                       ("commits", COMMITS + [ds_commit]),
                       ("discussions", DISCUSSIONS)]:
        with open(d / f"{kind}.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
    base = str(tmp_path / "snap_orphan")
    assert cli.main(["--feeds", str(d), "--base", base,
                     "--release", "r1", "-t", "model"]) == 0
    shas = {r.sha for r in spark.read.parquet(
        f"{base}/commits/release=r1").collect()}
    assert "9" * 40 not in shas          # dataset commit pruned
    assert "e" * 40 in shas              # model commit kept


def test_cli_months_requires_prev_release(feed_dir, tmp_path, capsys):
    assert cli.main(["--feeds", feed_dir, "--base", str(tmp_path),
                     "--release", "r1", "-i", "6"]) == 2
    assert "--prev-release" in capsys.readouterr().err


def test_cli_analysis_sql_and_metric(spark, feed_dir, tmp_path, capsys):
    """SURVEY 3.3: the analysis entry point — user SQL and the
    published metrics run directly over a loaded release."""
    base = str(tmp_path / "snap_sql")
    assert cli.main(["--feeds", feed_dir, "--base", base,
                     "--release", "r1"]) == 0
    capsys.readouterr()

    assert cli.main([
        "--base", base, "--release", "r1",
        "--sql",
        "SELECT type, COUNT(*) AS n FROM repository GROUP BY type "
        "ORDER BY type",
    ]) == 0
    out = capsys.readouterr().out
    assert "dataset" in out and "model" in out and "space" in out

    assert cli.main(["--base", base, "--release", "r1",
                     "--metric", "m1_top_orgs"]) == 0
    assert "org" in capsys.readouterr().out

    assert cli.main(["--base", base, "--release", "r1",
                     "--metric", "nope"]) == 2
    assert "unknown metric" in capsys.readouterr().err


def test_cli_incremental_insert_ignore_keeps_first_arrival(
    spark, feed_dir, tmp_path
):
    """Round-5 ADVICE: a within-batch duplicate PK on an INSERT IGNORE
    table (commits) must resolve FIRST-writer-wins — ascending recency,
    MariaDB INSERT IGNORE's contract — not to the newest row like the
    upsert tables."""
    base = str(tmp_path / "snap_fww")
    assert cli.main(["--feeds", feed_dir, "--base", base,
                     "--release", "r1"]) == 0

    from tests.test_hub_feeds import COMMITS

    dup_sha = "9" * 40
    old = {**COMMITS[0], "sha": dup_sha, "message": "first arrival",
           "author_date": "2024-02-01T00:00:00",
           "committer_date": "2024-02-01T00:00:00"}
    new = {**old, "message": "late duplicate",
           "author_date": "2024-06-01T00:00:00",
           "committer_date": "2024-06-01T00:00:00"}
    d2 = tmp_path / "feeds_fww"
    d2.mkdir()
    for kind, rows in [("models", MODELS), ("datasets", []),
                       ("spaces", []), ("commits", [new, old]),
                       ("discussions", [])]:
        with open(d2 / f"{kind}.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    assert cli.main(["--feeds", str(d2), "--base", base,
                     "--release", "r2", "--prev-release", "r1"]) == 0
    rows = [r for r in spark.read.parquet(
        f"{base}/commits/release=r2").collect() if r.sha == dup_sha]
    assert len(rows) == 1
    assert rows[0].message == "first arrival"


def test_author_source_audit_flags_unknown_sources(spark):
    """Round-5 ADVICE: a malformed/NULL author source is demoted below
    every known tier AND surfaced by the audit, never silently mapped
    onto the 'commit' tier."""
    from hfcommunity_spark.operators.mergeops import (
        author_priority_merge,
        author_source_audit,
    )

    prev = spark.createDataFrame(
        [("alice", "hf", "Alice")], "username string, source string, "
        "fullname string")
    cur = spark.createDataFrame(
        [("alice", "hf_typo", "Mallory"), ("bob", None, "Bob")],
        "username string, source string, fullname string")
    merged = {r.username: r for r in
              author_priority_merge(prev, cur).collect()}
    # unknown tier (0) loses to the known 'hf' row — no downgrade
    assert merged["alice"].fullname == "Alice"
    audit = {r.source: r.n_rows for r in
             author_source_audit(cur).collect()}
    assert audit == {"hf_typo": 1, None: 1}


def test_cli_metric_mode_matches_library_for_all_published(
    spark, feed_dir, tmp_path, capsys
):
    """Round-6 VERDICT ask: drive ``--metric`` THROUGH the CLI for all
    eight published metrics (docs/metrics.html catalog) and assert the
    rendered chart rows equal the direct library call over the same
    release — invocation parity, not just function parity (the
    function values themselves are locked by test_metrics_values)."""
    from hfcommunity_spark.cli import _register_release
    from hfcommunity_spark.metrics import ALL_METRICS

    base = str(tmp_path / "snap_metrics")
    assert cli.main(["--feeds", feed_dir, "--base", base,
                     "--release", "r1"]) == 0
    capsys.readouterr()

    tables = _register_release(spark, base, "r1")
    for name, fn in ALL_METRICS.items():
        assert cli.main(["--base", base, "--release", "r1",
                         "--metric", name, "--limit", "100"]) == 0
        via_cli = capsys.readouterr().out
        fn(tables).show(100, truncate=False)  # same rendering path
        via_lib = capsys.readouterr().out
        assert via_lib.strip() and via_lib.strip() in via_cli, name


def test_cli_skiplist_prunes_children_too(spark, tmp_path):
    """--skiplist must exclude the repo's commits/discussions as well
    as its feed row — no orphan child rows (round-5 review #2)."""
    d = tmp_path / "feeds_skip"
    d.mkdir()
    for kind, rows in [("models", MODELS), ("datasets", DATASETS),
                       ("spaces", SPACES), ("commits", COMMITS),
                       ("discussions", DISCUSSIONS)]:
        with open(d / f"{kind}.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
    base = str(tmp_path / "snap_skip")
    assert cli.main(["--feeds", str(d), "--base", base,
                     "--release", "r1",
                     "--skiplist", "models/org/m1"]) == 0
    assert spark.read.parquet(
        f"{base}/commits/release=r1").count() == 0
    assert spark.read.parquet(
        f"{base}/discussion/release=r1").count() == 0
    repo_ids = {r.id for r in spark.read.parquet(
        f"{base}/repository/release=r1").collect()}
    assert "models/org/m1" not in repo_ids


def test_cli_stale_repo_contributes_no_children(spark, feed_dir, tmp_path):
    """The reference's stale path is UPDATE-then-CONTINUE: a stale
    repo's likes refresh but a commit arriving for it in the same feed
    must NOT be ingested (round-5 review #2)."""
    base = str(tmp_path / "snap_stale")
    assert cli.main(["--feeds", feed_dir, "--base", base,
                     "--release", "r1"]) == 0

    d2 = tmp_path / "feeds_stale"
    d2.mkdir()
    new_commit = {**COMMITS[0], "sha": "7" * 40, "message": "late"}
    for kind, rows in [
        ("models", [{**MODELS[0], "likes": 55}]),  # stale (2024 ts)
        ("datasets", []), ("spaces", []),
        ("commits", [new_commit]), ("discussions", []),
    ]:
        with open(d2 / f"{kind}.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    assert cli.main(["--feeds", str(d2), "--base", base,
                     "--release", "r2", "--prev-release", "r1",
                     "-i", "1"]) == 0
    m = {r.id: r for r in spark.read.parquet(
        f"{base}/repository/release=r2").collect()}["models/org/m1"]
    assert m.likes == 55  # stale refresh applied
    shas = {r.sha for r in spark.read.parquet(
        f"{base}/commits/release=r2").collect()}
    assert "7" * 40 not in shas  # ...but its new commit was NOT taken
    assert "e" * 40 in shas      # prior commits carried forward


def test_cli_incremental_author_priority_not_downgraded(
    spark, feed_dir, tmp_path
):
    """An author known at 'hf' tier in the previous release must not
    be downgraded by a commit-stub arrival (reference :513-518;
    round-5 review #3)."""
    base = str(tmp_path / "snap_auth")
    assert cli.main(["--feeds", feed_dir, "--base", base,
                     "--release", "r1"]) == 0
    a1 = {r.username: r.source for r in spark.read.parquet(
        f"{base}/author/release=r1").collect()}
    assert a1["fan"] == "hf"  # discussion author lands at hf tier

    d2 = tmp_path / "feeds_auth"
    d2.mkdir()
    stub_commit = {**COMMITS[0], "sha": "8" * 40,
                   "author_name": "fan", "committer_name": "fan"}
    for kind, rows in [("models", MODELS), ("datasets", []),
                       ("spaces", []), ("commits", [stub_commit]),
                       ("discussions", [])]:
        with open(d2 / f"{kind}.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
    assert cli.main(["--feeds", str(d2), "--base", base,
                     "--release", "r2", "--prev-release", "r1"]) == 0
    a2 = {r.username: r.source for r in spark.read.parquet(
        f"{base}/author/release=r2").collect()}
    assert a2["fan"] == "hf"  # still hf tier, not 'commit'


def test_cli_query_mode_runs_declared_inventory(spark, capsys):
    """--query exposes the full declared registry through the CLI:
    running a declared query against a parquet table directory prints
    its rows; unknown names and a missing --base are rc-2 errors;
    --list-queries enumerates the registry without needing a base."""
    assert cli.main(["--query", "t_filter_cascade_audit",
                     "--base", "/root/testdata/sf0.001"]) == 0
    out = capsys.readouterr().out
    assert "verdict" in out and "n_docs" in out

    assert cli.main(["--query", "no_such_query",
                     "--base", "/root/testdata/sf0.001"]) == 2
    assert "unknown query" in capsys.readouterr().err

    assert cli.main(["--query", "t_filter_cascade_audit"]) == 2
    assert "--base" in capsys.readouterr().err

    assert cli.main(["--list-queries"]) == 0
    listing = capsys.readouterr().out
    assert "sim_mmr_diversify_topk" in listing
    # since round 10 (the k-means ANN gained its unrolled-Lloyd
    # oracle) EVERY declared query is oracle-equipped
    assert "rows-only" not in listing


# -- the load's lifecycle: one parse per feed, counts observed at the
# write, nothing left persisted ---------------------------------------

LOAD_MODES = {
    "all": [],
    "model": ["-t", "model"],
    "skiplist": ["--skiplist", "models/org/m1"],
    "incremental": ["--prev-release", "r1", "-i", "1"],
}

# Spark jobs of one `-t all` load of the feed_dir fixture.  A feed
# parsed again or a snapshot read back to be counted adds jobs.
LOAD_JOBS = 36


def _persisted(spark) -> set:
    """Ids of the persistent RDDs.  Compare id sets, not counts: the
    ContextCleaner unpersists earlier tests' dropped RDDs
    asynchronously, so a count can fall while a load runs."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray())


def _load(spark, feeds, base, release, extra=()):
    ns = cli._parser().parse_args(
        ["--feeds", feeds, "--base", base, "--release", release, *extra]
    )
    return cli.run(spark, ns)


@pytest.mark.parametrize("mode", sorted(LOAD_MODES))
def test_cli_load_counts_and_rows_match_unpersisted_load(
    spark, feed_dir, tmp_path, monkeypatch, mode
):
    """Each count the load reports equals a read-back count of the
    written snapshot, and every table holds the same rows as a load
    whose feeds are read fresh for each table and never persisted."""
    from pyspark.sql import DataFrame

    base = str(tmp_path / "snap")
    if mode == "incremental":
        _load(spark, feed_dir, base, "r1")
    before = _persisted(spark)
    counts = _load(spark, feed_dir, base, "r2", LOAD_MODES[mode])
    assert not _persisted(spark) - before
    assert sorted(counts) == sorted(SCHEMAS)
    for name in SCHEMAS:
        assert counts[name] == spark.read.parquet(
            f"{base}/{name}/release=r2").count(), name

    with monkeypatch.context() as m:
        m.setattr(DataFrame, "persist", lambda self, *a, **kw: self)
        _load(spark, feed_dir, base, "fresh", LOAD_MODES[mode])
    for name in SCHEMAS:
        got = spark.read.parquet(f"{base}/{name}/release=r2")
        want = spark.read.parquet(f"{base}/{name}/release=fresh")
        assert got.exceptAll(want).count() == 0, name
        assert want.exceptAll(got).count() == 0, name


def test_cli_failed_load_leaves_nothing_persisted(
    spark, tmp_path, monkeypatch
):
    """A corrupt commits line fails the load under FAILFAST after the
    repository feeds were already parsed and cached; the cache is
    still released."""
    d = tmp_path / "feeds_corrupt"
    d.mkdir()
    for kind, rows in [("models", MODELS), ("datasets", DATASETS),
                       ("spaces", SPACES), ("discussions", DISCUSSIONS)]:
        with open(d / f"{kind}.jsonl", "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
    with open(d / "commits.jsonl", "w") as f:
        f.write(json.dumps(COMMITS[0]) + "\n{not json\n")
    cached = []
    write = cli.write_snapshot

    def spy(*a, **kw):
        cached.append(_persisted(spark))
        return write(*a, **kw)

    monkeypatch.setattr(cli, "write_snapshot", spy)
    before = _persisted(spark)
    with pytest.raises(Exception, match="FAILFAST"):
        _load(spark, str(d), str(tmp_path / "snap"), "r1")
    assert any(c - before for c in cached)
    assert not _persisted(spark) - before


def test_cli_load_job_count(spark, feed_dir, tmp_path):
    """The load's job count is deterministic, so it is pinned."""
    sc = spark.sparkContext
    group = "hfc-cli-load-jobs"
    sc.setJobGroup(group, "cli.run -t all")
    try:
        _load(spark, feed_dir, str(tmp_path / "snap"), "r1")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) == LOAD_JOBS, sorted(jobs)
