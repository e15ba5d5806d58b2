import json
import os
import sys

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import checks  # noqa: E402


def _feeds(tmp_path):
    def write(kind, rows):
        with open(tmp_path / f"{kind}.jsonl", "w", encoding="utf-8") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")

    sib = [{"filename": "a.bin"}, {"filename": "b.bin"}]
    write("models", [{"name": "o/m", "author": "o", "tags": ["x", "y", "x"],
                      "siblings": sib}])
    write("datasets", [{"name": "o/d", "author": "o", "tags": ["x"],
                        "siblings": []}])
    write("spaces", [{"name": "p/s", "author": "p", "tags": [],
                      "siblings": sib[:1], "models": ["o/m"],
                      "datasets": []}])
    commit = {"repo_id": "models/o/m", "author_date": "2024-06-01",
              "committer_date": "2024-06-01", "message": "c",
              "author_name": "dev"}
    files = [{"change_type": "ADD", "old_path": None, "new_path": "d1/u.py"},
             {"change_type": "ADD", "old_path": None, "new_path": "d2/u.py"},
             {"change_type": "DELETE", "old_path": "v.py", "new_path": None}]
    write("commits", [
        {**commit, "sha": "s1", "parents": [], "files": files},
        {**commit, "sha": "s2", "parents": ["s1"], "files": files[:1]},
        # the same commit replayed under a fork keeps one row
        {**commit, "sha": "s2", "parents": ["s1"], "files": files[:1],
         "repo_id": "models/f/m"},
    ])
    write("discussions", [{"repo_id": "models/o/m", "author": "fan",
                           "conflicting_files": None,
                           "events": [{"author": "dev"}, {"author": "fan2"}]}])


def test_expected_release_counts(tmp_path):
    _feeds(tmp_path)
    got = checks.expected_release_counts(str(tmp_path))
    assert got["repository"] == 3
    assert (got["model"], got["dataset"], got["space"]) == (1, 1, 1)
    assert (got["tag"], got["tags_in_repo"]) == (2, 3)
    assert got["repo_file"] == 3
    assert (got["commits"], got["commit_parents"]) == (2, 1)
    # d1/u.py and d2/u.py share a basename, so one id per commit; the
    # fork's replay of s2 has another repo name, so its own id
    assert got["modified_file"] == got["files_in_commit"] == 4
    assert (got["discussion"], got["discussion_event"]) == (1, 2)
    assert got["author"] == 5  # o, p, dev, fan, fan2
    assert (got["models_in_space"], got["datasets_in_space"]) == (1, 0)


def test_check_release_reports_each_wrong_table():
    want = {"a": 1, "b": 2}
    ok = checks.check_release(want, [{"tag": "p0", "counts": {"a": 1,
                                                              "b": 2}}])
    assert ok["ok"] and not ok["errors"]
    bad = checks.check_release(want, [{"tag": "p0", "counts": {"a": 1,
                                                               "b": 3}}])
    assert not bad["ok"] and bad["errors"] == [
        "p0: b has 3 rows, expected 2"]
    assert not checks.check_release(want, [])["ok"]


def test_frame_hash_ignores_row_and_column_order_only():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    b = pd.DataFrame({"v": [1.5, 0.5], "k": [2, 1]})
    assert checks.frame_hash(a) == checks.frame_hash(b)
    c = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5000000001]})
    assert checks.frame_hash(a) != checks.frame_hash(c)
    # int widths canonicalize the same on both sides
    d = pd.DataFrame({"k": pd.Series([1, 2], dtype="int32"),
                      "v": [0.5, 1.5]})
    assert checks.frame_hash(a) == checks.frame_hash(d)
