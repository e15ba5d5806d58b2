"""Where an iterative or maintained face runs: on the driver or as a
distributed plan.

A face takes its driver-local twin only while its input stays under
the face's cap, and takes the distributed plan otherwise — the plan
that scales; the twin is a small-input shortcut.  This module holds
the three pieces of that rule:

- :data:`CAPS`, the only definition of every driver-local cap.  Each
  gate reads ``CAPS[name]`` at call time, so a cap pinned here (by a
  test or a tool) takes effect at the next call.  A cap of 0 means
  "never local".
- :func:`bounded_arrow`, the one bounded Arrow collect.
- :func:`distributed`, the one way to force every face onto its
  distributed plan.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import TYPE_CHECKING, Iterator

if TYPE_CHECKING:
    import pyarrow as pa
    from pyspark.sql import DataFrame

CAPS: dict[str, int] = {
    # |starts| x |edges| steps of the driver-side multi-source BFS
    # (graph.ancestors, and the merge-base/commit-ancestors reach sets,
    # whose pre-gate is n·(n−1) commits).  Margin, warm, 4 cores,
    # sf0.01 / sf0.1: g_commit_ancestors 0.29 / 0.33 s and 1 job, vs
    # 1.26 / 1.45 s and 12 jobs with only its face twin off, vs
    # 1.97 / 2.20 s and 28 jobs at cap 0
    "ANC_LOCAL_WORK_MAX": 2_000_000,
    # documents rows of the merge-base twin's footer-gated read: two
    # int64 columns ≈ 80 MB of driver memory at the cap.  Margin, as
    # above: g_merge_base 0.32 / 0.33 s and 1 job, vs 2.19 / 2.74 s and
    # 15–16 jobs with only its face twin off, vs 2.55 / 3.15 s and 31
    # jobs with every cap at 0
    "MB_DOC_LOCAL_ROW_MAX": 5_000_000,
    # edges of the PageRank twin's one Arrow collect: two int64
    # columns ≈ 32 MB at the cap.  Margin, as above:
    # g_pagerank_fixed_iter 0.42 / 1.65 s and 4 jobs, vs 1.04 / 3.31 s
    # and 11 jobs at cap 0
    "PR_LOCAL_EDGE_MAX": 2_000_000,
    # delivery edges of graph.fold_components_delivery's local fold;
    # the distributed chain costs seconds of fixed per-delivery overhead
    "QUOTIENT_LOCAL_EDGE_MAX": 100_000,
    # rows of each bucket read of that local fold, held as Python
    # tuples: two int64 columns ≈ 8 MB of driver heap at the cap
    "WRITER_LOCAL_ROW_MAX": 512_000,
    # span rows the local span fold holds as Arrow tables end to end:
    # three int64 columns ≈ 100 MB at the cap
    "SPAN_LOCAL_ROW_MAX": 4_000_000,
    # file bytes of the touched postings buckets the local span probe
    # reads, checked against file sizes before any read
    "SPAN_LOCAL_READ_BYTE_MAX": 256 << 20,
    # rows per x15/x17 local serve read: three serves share one upload
    # of 3×cap rows, and a 3M-row local upload measured slower than
    # the distributed serve
    "SERVE_LOCAL_ROW_MAX": 600_000,
}


def bounded_arrow(df: DataFrame, cap: int) -> pa.Table | None:
    """``df`` as one Arrow table when it has at most ``cap`` rows,
    else None.  ``cap <= 0`` returns None without a Spark job;
    otherwise it runs one ``limit(cap + 1).toArrow()``."""
    if cap <= 0:
        return None
    t = df.limit(cap + 1).toArrow()
    return None if t.num_rows > cap else t


@contextmanager
def distributed() -> Iterator[dict[str, int]]:
    """Pin every cap in :data:`CAPS` to 0 for the body, so every face
    runs its distributed plan; yields the pinned caps and restores the
    old values on exit, also when the body raises."""
    saved = dict(CAPS)
    CAPS.update(dict.fromkeys(CAPS, 0))
    try:
        yield dict(CAPS)
    finally:
        CAPS.update(saved)
