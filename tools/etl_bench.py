"""ETL throughput anchor vs the reference's published 54-hour run.

BASELINE.md's only performance number for the reference is extraction
wall-clock: ≈54 h single-threaded for the June-2024 corpus (~122.2 M
rows across the 17 tables, cardinalities in BASELINE.md).  This
harness measures OUR side of that comparison: synthesize JSONL feeds
with the June-2024 child ratios (commits/repo, files/commit,
siblings/repo, tags/repo, discussions/repo), run the real CLI load
(feeds → 17-table snapshot, same code path as a production import),
and report rows/s plus the wall-clock extrapolated to the full
June-2024 cardinality.

Honest framing, recorded in the output: the reference's 54 h includes
Hub API and git NETWORK time that a feeds-on-disk run does not pay —
this measures the ENGINE (parse → normalize → merge → snapshot), i.e.
the part the reference spends on single-threaded Python + MariaDB
inserts.  It is the bound a cluster deployment actually controls.

Usage: python tools/etl_bench.py [--repos N] [--out ETL_BENCH.json]
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# June-2024 corpus shape (BASELINE.md, docs/download.html):
REF_ROWS_TOTAL = 122_195_998
REF_HOURS = 54.0
REPO_MIX = (("model", 0.626), ("dataset", 0.138), ("space", 0.236))
COMMITS_PER_REPO = 7.17       # 7,803,628 / 1,088,879
FILES_PER_COMMIT = 2.70       # 21,055,405 / 7,803,628
SIBLINGS_PER_REPO = 14.0      # repo_file density, capped for feed size
TAGS_PER_REPO = 4.69          # 5,111,538 / 1,088,879
DISCUSSIONS_PER_REPO = 0.25   # 273,191 / 1,088,879
EVENTS_PER_DISCUSSION = 1.9   # 518,924 / 273,191


def _write_feeds(d: str, n_repos: int, seed: int = 11) -> None:
    rng = random.Random(seed)
    fh = {k: open(os.path.join(d, f"{k}.jsonl"), "w")
          for k in ("models", "datasets", "spaces", "commits",
                    "discussions")}
    day = lambda: (f"2024-06-{rng.randint(1, 28):02d}"
                   f"T{rng.randint(0, 23):02d}:00:00")
    for i in range(n_repos):
        u = rng.random()
        kind = ("model" if u < REPO_MIX[0][1]
                else "dataset" if u < REPO_MIX[0][1] + REPO_MIX[1][1]
                else "space")
        org = f"org{i % 997}"
        name = f"{org}/r{i}"
        sib = [
            {"filename": f"f{j}.bin", "size": rng.randint(1, 1 << 20),
             "blob_id": f"b{i}_{j}",
             "lfs": ({"size": 999, "pointer_size": 134, "sha": "l" * 40}
                     if j % 7 == 0 else None)}
            for j in range(rng.randint(1, 2 * int(SIBLINGS_PER_REPO)))
        ]
        base = {
            "name": name, "author": org, "sha": f"{i:040x}",
            "last_modified": day(), "private": False, "card_data": "{}",
            "gated": "False", "likes": rng.randint(0, 50),
            "disabled": False,
            "tags": [f"t{rng.randint(0, 400)}"
                     for _ in range(rng.randint(0, 2 * int(TAGS_PER_REPO)))],
            "siblings": sib,
        }
        if kind == "model":
            row = {**base, "pipeline_tag": "text-generation",
                   "downloads": rng.randint(0, 10**6),
                   "library_name": "transformers", "config": "cfg"}
            fh["models"].write(json.dumps(row) + "\n")
        elif kind == "dataset":
            row = {**base, "description": "d", "citation": None,
                   "paperswithcode_id": None,
                   "downloads": rng.randint(0, 10**5)}
            fh["datasets"].write(json.dumps(row) + "\n")
        else:
            row = {**base, "sdk": "gradio", "stage": "RUNNING",
                   "hardware": None, "requested_hw": None,
                   "sleep_time": None, "storage": None,
                   "runtime_raw": "{}", "models": [], "datasets": []}
            fh["spaces"].write(json.dumps(row) + "\n")
        repo_id = f"{kind}s/{name}"
        n_commits = rng.randint(0, 2 * int(COMMITS_PER_REPO))
        prev_sha = None
        for c in range(n_commits):
            sha = f"{i:032x}{c:08x}"
            files = [
                {"old_path": None, "new_path": f"f{j}.bin",
                 "change_type": "ADD" if c == 0 else "MODIFY",
                 "diff": "+", "added": rng.randint(1, 100),
                 "deleted": rng.randint(0, 20), "nloc": 1}
                for j in range(rng.randint(1, 2 * int(FILES_PER_COMMIT)))
            ]
            fh["commits"].write(json.dumps({
                "repo_id": repo_id, "sha": sha,
                "parents": [prev_sha] if prev_sha else [],
                "message": f"c{c}", "author_date": day(), "author_tz": 0,
                "committer_date": day(), "committer_tz": 0,
                "in_main_branch": True,
                "author_name": f"dev{rng.randint(0, 5000)}",
                "committer_name": org, "files": files,
            }) + "\n")
            prev_sha = sha
        if rng.random() < DISCUSSIONS_PER_REPO:
            events = [
                {"id": f"ev{i}_{e}", "event_type": "comment",
                 "created_at": day(), "author": f"fan{rng.randint(0, 3000)}",
                 "content": "q", "edited": False, "hidden": False,
                 "new_status": None, "summary": None, "sha": None,
                 "old_title": None, "new_title": None, "full_data": "{}"}
                for e in range(rng.randint(1, 2 * int(EVENTS_PER_DISCUSSION)))
            ]
            fh["discussions"].write(json.dumps({
                "repo_id": repo_id, "num": 1,
                "author": f"fan{rng.randint(0, 3000)}", "title": "hi",
                "status": "open", "created_at": day(),
                "is_pull_request": False, "target_branch": None,
                "merge_commit_oid": None, "git_reference": None,
                "conflicting_files": None, "events": events,
            }) + "\n")
    for f in fh.values():
        f.close()


def _one_scale(spark, work: str, n_repos: int) -> dict:
    from hfcommunity_spark import cli
    from hfcommunity_spark.session import codegen_compiles

    feeds = os.path.join(work, f"feeds_{n_repos}")
    base = os.path.join(work, f"snap_{n_repos}")
    os.makedirs(feeds)
    t0 = time.monotonic()
    _write_feeds(feeds, n_repos)
    gen_s = time.monotonic() - t0
    ns = cli._parser().parse_args(
        ["--feeds", feeds, "--base", base, "--release", "bench"]
    )
    c0, cs0 = codegen_compiles(spark)
    t1 = time.monotonic()
    counts = cli.run(spark, ns)
    load_s = time.monotonic() - t1
    c1, cs1 = codegen_compiles(spark)
    rows = sum(counts.values())
    return {
        "repos": n_repos,
        "rows_total": rows,
        "feed_gen_seconds": round(gen_s, 1),
        "load_seconds": round(load_s, 1),
        # classes Janino compiled during the load, and the seconds it
        # spent on them (0 once every plan is in the codegen cache)
        "codegen_compiles": c1 - c0,
        "codegen_compile_seconds": round(cs1 - cs0, 2),
        "rows_per_sec": round(rows / load_s, 1),
        "per_table": counts,
    }


def _git(*argv: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", ROOT, *argv], capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _provenance(spark) -> dict:
    """Where a recording came from, so a number from another host or
    code state is not mistaken for this one."""
    status = _git("status", "--porcelain", "--untracked-files=no")
    return {
        "git_sha": _git("rev-parse", "HEAD"),
        "git_dirty": None if status is None else bool(status),
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark": spark.version,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repos", type=int, default=20_000)
    ap.add_argument("--series", action="store_true",
                    help="weak-scaling sweep: repos/10, repos, repos*3 "
                         "— shows the fixed per-run overhead amortize "
                         "(throughput must NOT degrade with size)")
    ap.add_argument("--out", default=os.path.join(ROOT, "ETL_BENCH.json"))
    args = ap.parse_args()

    work = tempfile.mkdtemp(prefix="etl_bench_")
    from hfcommunity_spark.session import get_spark

    spark = get_spark(app_name="hfcommunity-etl-bench")
    spark.sparkContext.setLogLevel("ERROR")
    scales = ([args.repos // 10, args.repos, args.repos * 3]
              if args.series else [args.repos])
    runs = [_one_scale(spark, work, n) for n in scales]
    head = runs[-1]  # largest scale carries the headline numbers
    rps = head["rows_per_sec"]
    payload = {
        **{k: head[k] for k in ("repos", "rows_total",
                                "feed_gen_seconds", "load_seconds",
                                "codegen_compiles",
                                "codegen_compile_seconds",
                                "rows_per_sec", "per_table")},
        "series": [
            {k: r[k] for k in ("repos", "rows_total", "load_seconds",
                               "codegen_compiles",
                               "codegen_compile_seconds", "rows_per_sec")}
            for r in runs
        ],
        "reference": {
            "rows_total": REF_ROWS_TOTAL,
            "wall_hours": REF_HOURS,
            "rows_per_sec": round(REF_ROWS_TOTAL / (REF_HOURS * 3600), 1),
        },
        "extrapolated_hours_at_ref_cardinality": round(
            REF_ROWS_TOTAL / rps / 3600, 2
        ),
        "provenance": _provenance(spark),
        "caveat": ("reference wall-clock includes Hub API/git network "
                   "time; this measures the engine path only "
                   "(parse -> normalize -> merge -> snapshot) on "
                   "synthetic feeds with June-2024 child ratios"),
    }
    with open(args.out, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps({"series": payload["series"],
                      "extrapolated_hours_at_ref_cardinality":
                          payload["extrapolated_hours_at_ref_cardinality"]}))
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
