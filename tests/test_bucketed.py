"""The bucketed parquet layout's driver-side I/O
(``hfcommunity_spark.operators.bucketed``): the gates every reader
keeps, the staged commit and whole-file rule of the writer, and the
hardlink snapshot with its cross-device fallback, and the sweep of
temp dirs a killed process left behind.

The reader/writer contracts run over both schemas the maintained faces
store: the x15 assignment layout (two int64 columns, ``c_bucket``) and
the x17 span stats layout (three int64 columns, ``d_bucket``).
"""
from __future__ import annotations

import errno
import os
import subprocess
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hfcommunity_spark.operators import bucketed, placement
from tests.conftest import SF_SMOKE

I64 = pa.int64()

LAYOUTS = {
    "assign": ("c_bucket", (("vertex", I64), ("component", I64))),
    "span_stats": ("d_bucket", (("doc_id", I64), ("n_spans", I64),
                                ("n_dup_spans", I64))),
}


@pytest.fixture(params=sorted(LAYOUTS))
def layout(request, tmp_path):
    """(layout dir, pcol, fields, columns, row maker) for one schema."""
    pcol, fields = LAYOUTS[request.param]
    cols = tuple(n for n, _ in fields)

    def row(i: int) -> tuple:
        return tuple(i * 10 + j for j in range(len(cols)))

    return str(tmp_path / "layout"), pcol, fields, cols, row


def _put(dir_, pcol, b, fields, rows, name="part-00000-old.snappy.parquet"):
    d = os.path.join(dir_, f"{pcol}={b}")
    os.makedirs(d, exist_ok=True)
    cols = list(zip(*rows))
    pq.write_table(
        pa.table({n: pa.array(cols[i], t)
                  for i, (n, t) in enumerate(fields)}),
        os.path.join(d, name),
    )
    return d


def test_bucket_files_listing_rule(tmp_path):
    """One listing rule: ``_``/``.`` names and non-parquet files are
    skipped; a requested bucket without a directory maps to ``[]``;
    the whole-layout listing only takes ``<pcol>=`` directories; a
    byte cap gates to None."""
    d = tmp_path / "l"
    (d / "h_bucket=2").mkdir(parents=True)
    (d / "h_bucket=10").mkdir()
    (d / "other=1").mkdir()
    for fn in ("part-b.parquet", "part-a.parquet", "_SUCCESS",
               ".part-a.parquet.crc", "_fold_inflight.json",
               "notes.txt"):
        (d / "h_bucket=2" / fn).write_bytes(b"x" * 10)
    got = bucketed.bucket_files(str(d), "h_bucket", [2, 5])
    assert got == {
        2: [str(d / "h_bucket=2" / "part-a.parquet"),
            str(d / "h_bucket=2" / "part-b.parquet")],
        5: [],
    }
    assert list(bucketed.bucket_files(str(d), "h_bucket")) == [10, 2]
    assert bucketed.bucket_files(str(d), "h_bucket", [2],
                                 byte_cap=20) is not None
    assert bucketed.bucket_files(str(d), "h_bucket", [2],
                                 byte_cap=19) is None
    with pytest.raises(OSError):
        bucketed.bucket_files(str(tmp_path / "absent"), "h_bucket")


def test_read_rows_gates_to_none(layout):
    """The 'unreadable file → fall back to distributed' contract holds
    for CORRUPT parquet too: pyarrow raises ArrowInvalid (a
    ValueError, not an OSError) on a truncated footer, and the gate
    returns None instead of aborting the fold.  Over the row cap, and
    a cap pinned to 0, gate to None as well; a missing bucket is
    empty, not a failure."""
    dir_, pcol, fields, cols, row = layout
    d = _put(dir_, pcol, 3, fields, [row(1), row(2)])
    assert bucketed.read_rows(dir_, pcol, [3, 4], cols, 10_000) == {
        3: [row(1), row(2)], 4: [],
    }
    assert bucketed.read_rows(dir_, pcol, [3], cols, 1) is None
    assert bucketed.read_rows(dir_, pcol, [3], cols, 0) is None
    # truncated footer → ArrowInvalid → gate, not crash
    with open(os.path.join(d, "part-00001-bad.snappy.parquet"), "wb") as fh:
        fh.write(b"PAR1junk")
    assert bucketed.read_rows(dir_, pcol, [3], cols, 10_000) is None
    assert bucketed.read_table(dir_, pcol, cols, 10_000) is None


def test_read_table_serves_whole_layout_and_gates(layout, tmp_path):
    dir_, pcol, fields, cols, row = layout
    _put(dir_, pcol, 1, fields, [row(1)])
    _put(dir_, pcol, 7, fields, [row(7), row(8)])
    t = bucketed.read_table(dir_, pcol, cols, 10_000)
    assert t.column_names == list(cols)
    assert sorted(zip(*(t.column(c).to_pylist() for c in cols))) == [
        row(1), row(7), row(8)]
    assert bucketed.read_table(dir_, pcol, cols, 2) is None
    assert bucketed.read_table(dir_, pcol, cols, 0) is None
    # a layout with no data file, or none at all, is a drift, not an
    # empty table
    empty = tmp_path / "empty"
    (empty / f"{pcol}=0").mkdir(parents=True)
    assert bucketed.read_table(str(empty), pcol, cols, 10_000) is None
    assert bucketed.read_table(str(tmp_path / "absent"), pcol, cols,
                               10_000) is None


def test_write_buckets_stages_before_unlink(layout, monkeypatch):
    """Staged commit: the replacement file is written while the old
    files are still on disk, and old files are unlinked only after the
    write succeeds — a failed write leaves the bucket's previous
    contents intact (and no partial file behind), a successful one
    replaces them exactly, and an emptied bucket is dropped."""
    dir_, pcol, fields, cols, row = layout
    _put(dir_, pcol, 5, fields, [row(7)])
    _put(dir_, pcol, 6, fields, [row(9)])

    def boom(*a, **k):
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", boom)
    with pytest.raises(OSError, match="disk full"):
        bucketed.write_buckets(dir_, pcol, {5: [row(8), row(9)]}, fields)
    monkeypatch.undo()
    assert os.listdir(os.path.join(dir_, f"{pcol}=5")) == [
        "part-00000-old.snappy.parquet"]
    assert bucketed.read_rows(dir_, pcol, [5], cols, 10_000) == {
        5: [row(7)]}
    bucketed.write_buckets(dir_, pcol, {5: [row(8), row(9)], 6: []},
                           fields)
    assert bucketed.read_rows(dir_, pcol, [5], cols, 10_000) == {
        5: [row(8), row(9)]}
    assert len(os.listdir(os.path.join(dir_, f"{pcol}=5"))) == 1
    assert not os.path.exists(os.path.join(dir_, f"{pcol}=6"))


def test_write_buckets_append_never_touches_existing(layout):
    dir_, pcol, fields, cols, row = layout
    d = _put(dir_, pcol, 2, fields, [row(1)])
    old = os.path.join(d, "part-00000-old.snappy.parquet")
    before = os.stat(old)
    bucketed.write_buckets(dir_, pcol, {2: [row(2)], 3: []}, fields,
                           append=True)
    after = os.stat(old)
    assert (after.st_ino, after.st_mtime_ns, after.st_size) == (
        before.st_ino, before.st_mtime_ns, before.st_size)
    got = bucketed.read_rows(dir_, pcol, [2, 3], cols, 10_000)
    assert sorted(got[2]) == [row(1), row(2)] and got[3] == []
    assert not os.path.exists(os.path.join(dir_, f"{pcol}=3"))


def test_write_buckets_refuses_to_overwrite_a_file(tmp_path, monkeypatch):
    """The whole-file rule is a check: a new file whose name already
    exists raises instead of rewriting bytes a hardlinked snapshot
    shares — and the existing file is left as it was."""
    pcol, fields = LAYOUTS["assign"]
    dir_ = str(tmp_path / "layout")
    d = _put(dir_, pcol, 1, fields, [(1, 1)],
             name="part-00000-fixed.snappy.parquet")
    snap = str(tmp_path / "snap")
    bucketed.snapshot(dir_, snap)

    class _Fixed:
        hex = "fixed"

    monkeypatch.setattr(bucketed.uuid, "uuid4", lambda: _Fixed())
    with pytest.raises(FileExistsError):
        bucketed.write_buckets(dir_, pcol, {1: [(2, 2)]}, fields)
    monkeypatch.undo()
    for root in (dir_, snap):
        assert bucketed.read_rows(root, pcol, [1], ("vertex", "component"),
                                  10) == {1: [(1, 1)]}
    assert os.listdir(d) == ["part-00000-fixed.snappy.parquet"]


def test_span_probe_local_corrupt_file_gates_to_none(tmp_path):
    from hfcommunity_spark.operators import dedup as dd

    pdir = tmp_path / "postings" / "h_bucket=0"
    pdir.mkdir(parents=True)
    (pdir / "part-00000-bad.snappy.parquet").write_bytes(b"PAR1junk")
    assert dd._span_probe_local(
        str(tmp_path / "postings"), [0], pa.array([1], I64), 10_000,
    ) is None


def _tree(root):
    out = {}
    for dp, _dns, fns in os.walk(root):
        for fn in fns:
            p = os.path.join(dp, fn)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = (fh.read(),
                                                 os.stat(p).st_ino)
    return out


def _exdev(src, dst):
    raise OSError(errno.EXDEV, os.strerror(errno.EXDEV), src)


def test_snapshot_hardlinks_and_cross_device_copy(tmp_path, monkeypatch):
    """``snapshot`` links every file (same inodes, no bytes); where
    ``os.link`` fails across devices it copies instead — byte-identical,
    new inodes — and says so with a RuntimeWarning.  The bucket-subset
    form takes only the named buckets and skips missing ones.
    ``flat_snapshot`` links every data file into one directory, keeping
    files of different buckets that share a name apart."""
    import warnings

    pcol, fields = LAYOUTS["assign"]
    src = str(tmp_path / "src")
    for b in (0, 1, 2):
        _put(src, pcol, b, fields, [(b, b), (b + 10, b)])
    with open(os.path.join(src, "_SUCCESS"), "wb"):
        pass
    want = _tree(src)

    linked = str(tmp_path / "linked")
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        bucketed.snapshot(src, linked)
    assert _tree(linked) == want  # same bytes AND same inodes

    flat = str(tmp_path / "flat")
    bucketed.flat_snapshot(src, pcol, flat)
    assert _tree(flat) == {
        f"{b}-part-00000-old.snappy.parquet":
            want[f"{pcol}={b}/part-00000-old.snappy.parquet"]
        for b in (0, 1, 2)
    }

    monkeypatch.setattr(os, "link", _exdev)
    copied = str(tmp_path / "copied")
    with pytest.warns(RuntimeWarning, match="hardlink failed"):
        bucketed.snapshot(src, copied)
    got = _tree(copied)
    assert {k: v[0] for k, v in got.items()} == {
        k: v[0] for k, v in want.items()}
    assert all(got[k][1] != want[k][1] for k in want)

    some = str(tmp_path / "some")
    os.makedirs(some)
    with pytest.warns(RuntimeWarning):
        bucketed.snapshot(src, some, pcol, [2, 9])
    assert sorted(os.listdir(some)) == [f"{pcol}=2"]
    assert bucketed.read_rows(some, pcol, [2], ("vertex", "component"),
                              10) == {2: [(2, 2), (12, 2)]}


def test_x17_snapshot_serve_across_devices_matches_local(spark,
                                                         monkeypatch):
    """The x17 lifecycle with its local serve pinned off
    (``SERVE_LOCAL_ROW_MAX`` = 0, so every serve is a snapshot +
    distributed read) and every hardlink failing cross-device (so the
    working copy and each serve snapshot are byte copies) serves the
    same rows as the default local-serve lifecycle."""
    from hfcommunity_spark.operators import dedup as dd

    sf = SF_SMOKE
    local = sorted(
        tuple(r) for r in
        dd.x17_stream_maintained_spans(spark, sf).collect()
    )
    assert local, "x17 served no rows"
    monkeypatch.setitem(placement.CAPS, "SERVE_LOCAL_ROW_MAX", 0)
    monkeypatch.setattr(os, "link", _exdev)
    with pytest.warns(RuntimeWarning, match="hardlink failed"):
        copied = sorted(
            tuple(r) for r in
            dd.x17_stream_maintained_spans(spark, sf).collect()
        )
    assert local == copied


def test_temp_dirs_of_dead_pids_are_swept(tmp_path, monkeypatch):
    """A killed process leaves its working copy and its half-built
    fixture behind.  Both are named after the creating pid, and the
    next call removes those whose pid is dead and keeps a live one's."""
    from hfcommunity_spark.operators import etlops

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    dead = subprocess.Popen([sys.executable, "-c", "pass"])
    dead.wait(timeout=60)
    live = subprocess.Popen([sys.executable, "-c",
                             "import time; time.sleep(600)"])
    try:
        assert live.poll() is None
        root = etlops._stable_scratch_dir(
            "hfc_swept_", str(tmp_path / "sf"), lambda out: None)
        parent = os.path.dirname(root)
        left = {}
        for where, prefix in ((str(tmp_path), "hfc_work_"),
                              (parent, "hfc_sweep_tmp_")):
            for who, pid in (("dead", dead.pid), ("live", live.pid)):
                d = os.path.join(where, f"{prefix}{pid}_x1")
                os.makedirs(os.path.join(d, "layout"))
                left[where, who] = d
        src = tmp_path / "pristine" / "layout"
        src.mkdir(parents=True)
        with bucketed.working_copy(str(tmp_path / "pristine"),
                                   ("layout",)) as work:
            assert os.path.basename(work).startswith(
                f"hfc_work_{os.getpid()}_")
        etlops._stable_scratch_dir("hfc_sweep_", str(tmp_path / "sf"),
                                   lambda out: None)
        for (where, who), d in left.items():
            assert os.path.isdir(d) == (who == "live"), (where, who)
        assert not os.path.exists(work)
    finally:
        live.kill()
        live.wait(timeout=60)
