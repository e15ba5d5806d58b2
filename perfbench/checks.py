"""Output checks and provenance helpers.

``expected_release_counts`` derives each of the 17 release tables' row
count from the JSONL feeds with plain Python, independently of the
Spark pipeline.  ``check_faces`` compares every materialized face
result with the face's DuckDB oracle by a canonical content hash.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import subprocess

import pandas as pd

QUERY_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def _lines(path: str):
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def expected_release_counts(feeds: str) -> dict[str, int]:
    """Row count of each release table for the feeds in ``feeds``:
    repositories and their subtypes one row per feed line, child tables
    deduplicated on their keys the way the reference's INSERT IGNORE
    does."""
    f = lambda kind: os.path.join(feeds, f"{kind}.jsonl")  # noqa: E731
    per_kind, tag_names, tag_pairs, authors = {}, set(), set(), set()
    repo_files = 0
    mis, dis = set(), set()
    for kind in ("model", "dataset", "space"):
        rows = list(_lines(f(kind + "s")))
        per_kind[kind] = len(rows)
        for r in rows:
            rid = f"{kind}s/{r['name']}"
            for t in r.get("tags") or ():
                if t is not None:
                    tag_names.add(t)
                    tag_pairs.add((t, rid))
            repo_files += sum(1 for s in r.get("siblings") or () if s)
            if r.get("author") is not None:
                authors.add(r["author"])
            if kind == "space":
                sid = rid
                mis.update((d, sid) for d in r.get("models") or () if d)
                dis.update((d, sid) for d in r.get("datasets") or () if d)
    shas, parents, mfiles = set(), set(), set()
    first_author: dict[str, tuple] = {}
    for c in _lines(f("commits")):
        key = (c["author_date"], c["committer_date"], c["repo_id"],
               c["message"])
        if c["sha"] not in first_author or key < first_author[c["sha"]][0]:
            first_author[c["sha"]] = (key, c.get("author_name"))
        shas.add(c["sha"])
        parents.update((c["sha"], p) for p in c.get("parents") or () if p)
        repo_name = c["repo_id"].split("/", 1)[1]
        for fl in c.get("files") or ():
            if not fl:
                continue
            path = fl["old_path"] if fl["change_type"] == "DELETE" \
                else fl["new_path"]
            mfiles.add((repo_name, path.rsplit("/", 1)[-1], c["sha"]))
    authors.update(a for _, a in first_author.values() if a is not None)
    discussions, events, conflicting = 0, 0, 0
    for d in _lines(f("discussions")):
        discussions += 1
        if d.get("author") is not None:
            authors.add(d["author"])
        conflicting += len(d.get("conflicting_files") or ())
        for e in d.get("events") or ():
            if e:
                events += 1
                if e.get("author") is not None:
                    authors.add(e["author"])
    return {
        "repository": sum(per_kind.values()),
        "model": per_kind["model"],
        "dataset": per_kind["dataset"],
        "space": per_kind["space"],
        "tag": len(tag_names),
        "tags_in_repo": len(tag_pairs),
        "repo_file": repo_files,
        "commits": len(shas),
        "commit_parents": len(parents),
        "modified_file": len(mfiles),
        "files_in_commit": len(mfiles),
        "discussion": discussions,
        "conflicting_files_discussion": conflicting,
        "discussion_event": events,
        "author": len(authors),
        "models_in_space": len(mis),
        "datasets_in_space": len(dis),
    }


def check_release(expected: dict[str, int], loads: list[dict]) -> dict:
    """Every load's per-table counts must equal ``expected``."""
    errors = []
    for load in loads:
        got = load["counts"]
        if set(got) != set(expected):
            errors.append(f"{load['tag']}: tables {sorted(got)}")
            continue
        errors += [f"{load['tag']}: {t} has {got[t]} rows, expected {n}"
                   for t, n in sorted(expected.items()) if got[t] != n]
    return {"ok": not errors and bool(loads), "checked": len(loads),
            "errors": errors}


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Columns by name, values in one dtype per kind, rows sorted."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            df[c] = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_bool_dtype(s):
            df[c] = s.astype("bool")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            df[c] = s.astype("float64")
        else:
            df[c] = s.map(lambda v: None if v is None else
                          v if isinstance(v, str) else repr(
                              v.tolist() if hasattr(v, "tolist") else v))
    if len(df.columns):
        df = df.sort_values(list(df.columns), na_position="first",
                            kind="mergesort")
    return df.reset_index(drop=True)


def frame_hash(df: pd.DataFrame) -> str:
    """Order-independent content hash of a result frame."""
    canon = _canon(df)
    h = hashlib.sha256(",".join(canon.columns).encode())
    h.update(pd.util.hash_pandas_object(canon, index=False).values.tobytes())
    return h.hexdigest()


def check_faces(oracles: dict[str, str | None], tables: dict,
                timed_rows: dict[str, list[int]], data_dir: str) -> dict:
    """Each face's kept result (an Arrow table) against the face's
    DuckDB oracle over the same parquet files, by content hash (a face
    without an oracle is not content-checked), and the row count of
    every timed invocation against the kept result's."""
    import duckdb

    errors = []
    con = duckdb.connect()
    try:
        for t in QUERY_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(data_dir, t)}.parquet'")
        for face, oracle in sorted(oracles.items()):
            got = tables.get(face)
            if got is None:
                errors.append(f"{face}: no kept result")
                continue
            if oracle is not None and frame_hash(got.to_pandas()) \
                    != frame_hash(con.execute(oracle).df()):
                errors.append(f"{face}: result differs from the oracle")
            bad = sorted({n for n in timed_rows.get(face, ())
                          if n != got.num_rows})
            if bad:
                errors.append(f"{face}: timed row counts {bad}, checked "
                              f"result has {got.num_rows}")
    finally:
        con.close()
    return {"ok": not errors and bool(oracles), "checked": len(oracles),
            "errors": errors}


def source_digest(root: str) -> str:
    """SHA-256 over the package's Python sources (the benchmark runs in
    a checkout that is not a git repository)."""
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(root, "hfcommunity_spark",
                                              "**", "*.py"), recursive=True)):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_sha(root: str) -> str | None:
    try:
        out = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None
