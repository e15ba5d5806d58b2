"""Source adapters (SURVEY §2.1 S1-S8): the reference's per-row API /
git fetches as partition-parallel Spark stages.

The reference runs every fetch serially on one thread (hub listing
:597, repo_info :299, discussions :467-469, git clone+traverse
:320-444).  Here each becomes ``mapInPandas`` over a key frame: the
driver never touches payloads, executors fetch their partition's keys
independently — the "embarrassingly parallelizable stage the reference
runs serially" (SURVEY §2.1 S7).

Fetch functions are injected (plain serializable callables), so tests
run fully offline with fixture fetchers and production wires the
``huggingface_hub`` client in the same seam.  The git adapter is real:
it shells out to ``git log --numstat`` in the task (no network needed
for an existing clone; ``clone --bare`` first in production, :350).
"""

from __future__ import annotations

import subprocess
from collections.abc import Callable, Iterable, Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T

FetchFn = Callable[[object], Iterable[dict]]


def map_fetch(keys: DataFrame, key_col: str, fetch: FetchFn,
              out_schema: T.StructType) -> DataFrame:
    """Generic correlated fetch: for each key, emit fetch(key) rows
    (the LATERAL-join pattern of S4-S6/J11).  One Arrow batch of keys
    per task iteration bounds memory; failures of a single key are the
    fetcher's to handle (return [] — the reference's try/except-per-
    repo defensive pattern, databaseImport.py:298-302)."""
    cols = [f.name for f in out_schema.fields]

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for key in pdf[key_col]:
                rows.extend(fetch(key))
            yield pd.DataFrame(rows, columns=cols)

    return keys.select(key_col).mapInPandas(gen, out_schema)


# --- S7/S8: git history scan ------------------------------------------------

GIT_COMMIT_SCHEMA = T.StructType(
    [
        T.StructField("repo_name", T.StringType()),
        T.StructField("sha", T.StringType()),
        T.StructField("parents", T.ArrayType(T.StringType())),
        T.StructField("author_name", T.StringType()),
        T.StructField("author_email", T.StringType()),
        T.StructField("author_date", T.StringType()),
        T.StructField("committer_date", T.StringType()),
        T.StructField("message", T.StringType()),
        T.StructField("files", T.ArrayType(
            T.StructType([
                T.StructField("path", T.StringType()),
                T.StructField("added", T.IntegerType()),
                T.StructField("deleted", T.IntegerType()),
            ])
        )),
    ]
)

_SEP = "\x1e"  # record separator — cannot appear in git metadata
_FMT = _SEP.join(["%H", "%P", "%an", "%ae", "%aI", "%cI", "%s"])


def git_commit_count(repo_dir: str) -> int:
    """S8: aggregate pushdown to git itself (rev-list --count, :364) —
    the cheap pre-scan that feeds the skip-threshold filter (P4)."""
    out = subprocess.run(
        ["git", "-C", repo_dir, "rev-list", "--count", "HEAD"],
        capture_output=True, check=True,
    )
    return int(out.stdout.decode("utf-8").strip())


def git_log_rows(repo_dir: str) -> list[dict]:
    """S7: one repo's commit history with per-file numstat — the
    PyDriller traverse_commits (:389-427) without the per-commit
    subprocess storm (single ``git log`` pass)."""
    # core.quotepath=off: without it git C-quotes non-ASCII paths
    # ("file\303\244.txt", quotes included), which would corrupt the
    # surrogate keys and silently miss the repo_file FK probe
    # (round-6 review finding)
    out = subprocess.run(
        ["git", "-C", repo_dir, "-c", "core.quotepath=off", "log",
         f"--pretty=format:{_FMT}", "--numstat", "--no-renames"],
        capture_output=True, check=True,
    ).stdout.decode("utf-8", errors="replace")

    commits: list[dict] = []
    cur: dict | None = None
    # NB: split on "\n" only — str.splitlines() would also split on the
    # \x1e record separator itself (it's a unicode line boundary).
    for line in out.split("\n"):
        if _SEP in line:
            # maxsplit: a raw 0x1e byte IN a commit subject passes
            # through %s verbatim, so the message (last field) must
            # absorb any extras instead of crashing the unpack
            # (round-6 review finding)
            sha, parents, an, ae, ad, cd, msg = line.split(_SEP, 6)
            cur = {
                "sha": sha,
                "parents": parents.split() if parents else [],
                "author_name": an,
                "author_email": ae,
                "author_date": ad,
                "committer_date": cd,
                "message": msg,
                "files": [],
            }
            commits.append(cur)
        elif line.strip() and cur is not None:
            parts = line.split("\t")
            if len(parts) == 3:
                added, deleted, path = parts
                cur["files"].append(
                    {
                        "path": path,
                        "added": int(added) if added != "-" else None,
                        "deleted": int(deleted) if deleted != "-" else None,
                    }
                )
    return commits


def make_git_fetcher(base_dir: str) -> FetchFn:
    """Fetcher mapping repo name → commit rows from an on-disk clone at
    ``{base_dir}/{name}`` (production clones --bare into scratch first,
    :350, and removes it after, :438)."""

    def fetch(repo_name: object) -> Iterable[dict]:
        rows = git_log_rows(f"{base_dir}/{repo_name}")
        for r in rows:
            r["repo_name"] = str(repo_name)
        return rows

    return fetch
