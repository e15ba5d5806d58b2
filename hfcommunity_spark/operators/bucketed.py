"""The bucketed parquet layout the maintained faces fold into in place:
``<dir>/<pcol>=<b>/part-*.parquet``, one directory per bucket, the
same tree Spark's ``partitionBy(pcol)`` writer produces and reads.

This module is the ONE driver-side implementation of that format —
listing, pruned row reads, whole-table serve reads, the staged-commit
bucket writer, the hardlink snapshot, the private working copy and the
per-delivery serve —
shared by the x15 cluster assignment (``graph`` writers,
``c_bucket``/``v_bucket``) and the x17 span layouts (``dedup`` fold,
``h_bucket``/``d_bucket``).

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

import contextlib
import os
import shutil
import tempfile
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


def serve(spark, dir_: str, pcol: str, columns, schema: str, snap: str):
    """The layout as it stands, for a face that serves it after a
    fold: an Arrow table read on the driver (:func:`read_table`) when
    it holds at most ``SERVE_LOCAL_ROW_MAX`` rows, else a lazy
    DataFrame with the DDL ``schema`` over a :func:`flat_snapshot` at
    ``snap``.  The writers replace whole files, so the snapshot keeps
    this state through later folds, and its one directory lists
    without a Spark job."""
    from hfcommunity_spark.operators import placement

    t = read_table(dir_, pcol, columns,
                   placement.CAPS["SERVE_LOCAL_ROW_MAX"])
    if t is not None:
        return t
    flat_snapshot(dir_, pcol, snap)
    return spark.read.schema(schema).parquet(snap)


def union_serves(spark, serves):
    """One frame of the ``(delivery_id, serve)`` pairs of a delivery
    stream, ``delivery_id`` (int) first, then the serves' columns, at
    session width: the Arrow serves of :func:`serve` upload as ONE
    local relation and the lazy ones are unioned onto it."""
    from pyspark.sql import functions as F

    from hfcommunity_spark.session import default_parallelism

    local = [
        t.add_column(0, "delivery_id",
                     pa.repeat(pa.scalar(k, pa.int32()), t.num_rows))
        for k, t in serves if isinstance(t, pa.Table)
    ]
    frames = [spark.createDataFrame(pa.concat_tables(local))] if local else []
    frames += [
        df.select(F.lit(k).cast("int").alias("delivery_id"), *df.columns)
        for k, df in serves if not isinstance(df, pa.Table)
    ]
    out = frames[0]
    for df in frames[1:]:
        out = out.unionByName(df)
    return out.coalesce(default_parallelism())


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


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass  # another user's live process
    return True


def pid_mkdtemp(prefix: str, dir: str | None = None) -> str:
    """``tempfile.mkdtemp`` named ``<prefix><pid>_<random>`` after the
    creating process.  A killed process never runs its cleanup, so
    first every ``<prefix><pid>_*`` directory beside it whose pid is
    no longer alive is removed; a live process's directory is kept."""
    parent = dir or tempfile.gettempdir()
    try:
        names = os.listdir(parent)
    except OSError:
        names = []
    for name in names:
        pid, sep, _ = name[len(prefix):].partition("_")
        if (name.startswith(prefix) and sep and pid.isdigit()
                and not _pid_alive(int(pid))):
            shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
    return tempfile.mkdtemp(prefix=f"{prefix}{os.getpid()}_", dir=parent)


@contextlib.contextmanager
def working_copy(src: str, names):
    """A private copy of the pristine layouts ``<src>/<name>``: each
    is :func:`snapshot`-ed (hardlinks) to ``<work>/<name>`` in a fresh
    :func:`pid_mkdtemp` dir ``work``, which is yielded and removed on
    exit.  A fold may mutate the copy freely; the pristine files are
    never modified, because writers replace whole files."""
    work = pid_mkdtemp("hfc_work_")
    try:
        for name in names:
            snapshot(os.path.join(src, name), os.path.join(work, name))
        yield work
    finally:
        shutil.rmtree(work, ignore_errors=True)


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
