"""The bucketed parquet layout the maintained faces fold into in place:
``<dir>/<pcol>=<b>/part-*.parquet``, one directory per bucket, the
same tree Spark's ``partitionBy(pcol)`` writer produces and reads.

This module is the ONE driver-side implementation of that format —
listing, pruned row reads, whole-table serve reads, the staged-commit
bucket writer and the hardlink snapshot — shared by the x15 cluster
assignment (``graph`` writers, ``c_bucket``/``v_bucket``) and the x17
span layouts (``dedup`` fold, ``h_bucket``/``d_bucket``).

Rules every function here keeps:

* A data file is a ``.parquet`` name without a ``_``/``.`` prefix
  (Spark's own file index skips those too: ``_SUCCESS``, ``.crc``
  sidecars, the span fold's ``_fold_inflight.json`` journal).
* Readers gate, they never raise: an unlistable directory (object
  storage), a corrupt footer or a row/byte cap exceeded returns None,
  BEFORE any mutation, and the caller runs its distributed path on the
  same inputs.  A cap of 0 or less means "never local".
* Writers replace whole files, never modify one in place (see
  :func:`write_buckets`); that is what lets :func:`snapshot`'s
  hardlinks stand for a frozen copy of the layout.
"""

from __future__ import annotations

import os
import shutil
import uuid
import warnings

import pyarrow as pa


def bucket_files(dir_: str, pcol: str, bkts=None,
                 byte_cap: int | None = None
                 ) -> dict[int, list[str]] | None:
    """``{bucket: [data-file path, ...]}`` — the single listing rule.

    With ``bkts`` only those buckets are listed, in the given order,
    and a bucket without a directory maps to ``[]``.  Without it every
    ``<pcol>=<b>`` directory is listed (sorted by name) and an
    unlistable ``dir_`` raises ``OSError``.  With ``byte_cap`` the
    files' total size is checked as they are listed; over the cap the
    result is None."""
    if bkts is None:
        prefix = f"{pcol}="
        bkts = [
            int(d[len(prefix):]) for d in sorted(os.listdir(dir_))
            if d.startswith(prefix)
        ]
    out: dict[int, list[str]] = {}
    total = 0
    for b in bkts:
        d = os.path.join(dir_, f"{pcol}={b}")
        paths = [
            os.path.join(d, fn)
            for fn in (sorted(os.listdir(d)) if os.path.isdir(d) else [])
            if not fn.startswith(("_", ".")) and fn.endswith(".parquet")
        ]
        if byte_cap is not None:
            total += sum(os.stat(p).st_size for p in paths)
            if total > byte_cap:
                return None
        out[b] = paths
    return out


def read_rows(dir_: str, pcol: str, bkts, columns,
              cap: int) -> dict[int, list] | None:
    """Pruned read of the touched buckets as python rows:
    ``{bucket: [tuple(columns), ...]}`` — the exact row set a
    partition-pruned Spark scan of those buckets returns, without a
    Spark job.  None on a failed gate: more than ``cap`` rows in
    total, an unreadable or corrupt file (pyarrow's ``ArrowInvalid``
    is a ``ValueError``, not an ``OSError``)."""
    import pyarrow.parquet as pq

    if cap <= 0:
        return None
    out: dict[int, list] = {}
    total = 0
    try:
        for b, paths in bucket_files(dir_, pcol, bkts).items():
            rows: list = []
            for p in paths:
                t = pq.read_table(p, columns=list(columns))
                total += t.num_rows
                if total > cap:
                    return None
                rows.extend(zip(*(t.column(c).to_pylist()
                                  for c in columns)))
            out[b] = rows
    except (OSError, pa.lib.ArrowException):
        return None
    return out


def read_table(dir_: str, pcol: str, columns, cap: int):
    """Serve read of the WHOLE layout as one Arrow table: one
    multithreaded pyarrow dataset scan over every bucket's files.
    None on a failed gate: more than ``cap`` rows, unlistable or
    corrupt files, or no data file at all — a maintained layout is
    never legitimately empty, so an empty listing means a layout or
    partition-column drift and must fall back to the distributed read
    rather than serve zero rows."""
    import pyarrow.dataset as pads

    if cap <= 0:
        return None
    try:
        files = [p for paths in bucket_files(dir_, pcol).values()
                 for p in paths]
        if not files:
            return None
        t = pads.dataset(files).to_table(columns=list(columns))
    except (OSError, pa.lib.ArrowException):
        return None
    return t if t.num_rows <= cap else None


def write_buckets(dir_: str, pcol: str, by_bucket: dict[int, list],
                  fields, append: bool = False) -> None:
    """Write each bucket's rows as ONE fresh snappy parquet file with
    the ordered ``(name, pyarrow type)`` schema ``fields``.

    Replace mode (default) is the driver-side twin of Spark's dynamic
    partition overwrite, as a staged commit: the new file lands in the
    bucket directory while the old files are still there, and the old
    files are unlinked only after the write succeeded — so a failure
    leaves old-only (write failed; the partial file is removed) or
    old+new (unlink did not run), never an emptied bucket.  An empty
    row list drops the bucket's directory.  Append mode adds one file
    per bucket and never touches existing files; an empty list is
    skipped.

    Whole files only: each new file is created with ``open(path,
    "xb")``, so writing over an existing name raises instead of
    changing bytes that a hardlink may share.  The readers relying on
    that are the :func:`snapshot` copies — x15's per-invocation working
    copy and caps-0 serve snapshots, x17's working copy and snapshot
    serve, and the distributed span fold's carried-stats read — which
    keep seeing the old inodes while the layout moves on.

    Gates belong to the caller and run before this is called; an I/O
    error here propagates (falling back to the distributed path after
    a partial rewrite would fold corrupt state)."""
    import pyarrow.parquet as pq

    for b, rows in by_bucket.items():
        d = os.path.join(dir_, f"{pcol}={b}")
        if not rows:
            if not append and os.path.isdir(d):
                shutil.rmtree(d)
            continue
        old = [] if append else bucket_files(dir_, pcol, [b])[b]
        os.makedirs(d, exist_ok=True)
        cols = list(zip(*rows))
        table = pa.table({
            name: pa.array(cols[i], typ)
            for i, (name, typ) in enumerate(fields)
        })
        path = os.path.join(
            d, f"part-00000-{uuid.uuid4().hex}.snappy.parquet"
        )
        with open(path, "xb") as fh:
            try:
                pq.write_table(table, fh, compression="snappy")
            except BaseException:
                os.unlink(path)
                raise
        for p in old:
            os.unlink(p)


def _link_or_copy(src: str, dst: str) -> None:
    try:
        os.link(src, dst)
    except OSError as exc:
        # cross-device (EXDEV) or a filesystem without hardlinks: the
        # snapshot stays correct but costs a byte copy per file.  One
        # constant message per errno, so the default warning filter
        # reports it once rather than per file.
        warnings.warn(
            "bucketed.snapshot: hardlink failed "
            f"({os.strerror(exc.errno) if exc.errno else exc}); "
            "falling back to byte copies",
            RuntimeWarning,
        )
        shutil.copy2(src, dst)


def snapshot(src: str, dst: str, pcol: str | None = None,
             bkts=None) -> None:
    """Freeze ``src`` at ``dst`` as hardlinks (O(files) metadata, no
    bytes) — the whole tree, or with ``pcol``/``bkts`` only those
    buckets' directories (missing ones skipped; ``dst`` may already
    exist).  Because :func:`write_buckets` and Spark's dynamic
    overwrite replace whole files, the linked names keep the old
    inodes alive through every later fold.  Where a hardlink fails
    (another filesystem) the file is copied instead and a
    ``RuntimeWarning`` reports it."""
    if bkts is None:
        shutil.copytree(src, dst, copy_function=_link_or_copy)
        return
    for b in bkts:
        d = os.path.join(src, f"{pcol}={b}")
        if os.path.isdir(d):
            shutil.copytree(d, os.path.join(dst, f"{pcol}={b}"),
                            copy_function=_link_or_copy)


def flat_snapshot(src: str, pcol: str, dst: str, bkts=None) -> None:
    """Freeze every data file of ``src`` — or with ``bkts`` only those
    buckets' files, missing ones skipped — into the ONE new directory
    ``dst`` as hardlinks named ``<bucket>-<file>`` (bucket directories
    may share file names), with :func:`snapshot`'s copy fallback.  For
    a read that needs no partition column: Spark lists a single
    directory on the driver, where a read of the bucket tree lists the
    bucket directories in a parallel-listing Spark job once there are
    more than ``spark.sql.sources.parallelPartitionDiscovery.threshold``
    (32) of them."""
    os.makedirs(dst)
    for b, paths in bucket_files(src, pcol, bkts).items():
        for p in paths:
            _link_or_copy(p, os.path.join(dst, f"{b}-{os.path.basename(p)}"))
