"""The placement module: every driver-local cap in one table, one
bounded Arrow collect, and one switch to the distributed plans — plus
the both-placements oracle tier that switch makes a one-liner."""

from __future__ import annotations

import ast
import os
import pathlib
import re

import pytest

from hfcommunity_spark.operators import placement
from hfcommunity_spark.queries import all_queries
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle_utils import duck_connection, run_compare
from tests.test_fold_job_budget import _job_budget
from tools.dist_bench import DIST_FACES

OPERATORS = (pathlib.Path(__file__).resolve().parent.parent
             / "hfcommunity_spark" / "operators")
_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_ORACLE)
    yield con
    con.close()


# the single-delivery span writer is not a bench face, but its
# distributed chain is the same one x17 runs, from one entry call
@pytest.mark.parametrize(
    "name", (*DIST_FACES, "dd_span_fold_in_place_parity")
)
def test_distributed_face_matches_oracle(spark, duck, name):
    """Every twin-gated face, forced onto its distributed plan, still
    equals its DuckDB oracle."""
    with placement.distributed():
        run_compare(spark, duck, all_queries()[name], SF_ORACLE)


def test_bounded_arrow_rule(spark):
    df = spark.range(5)
    for cap in (0, -1):
        with _job_budget(spark, 0, f"bounded-arrow-cap{cap}"):
            assert placement.bounded_arrow(df, cap) is None
    assert placement.bounded_arrow(df, 4) is None
    for cap in (5, 6):
        t = placement.bounded_arrow(df, cap)
        assert t is not None and sorted(t.column("id").to_pylist()) == [
            0, 1, 2, 3, 4,
        ]


def test_distributed_pins_and_restores_every_cap():
    before = dict(placement.CAPS)
    with placement.distributed() as pinned:
        assert pinned == dict.fromkeys(before, 0)
        assert placement.CAPS == pinned
    assert placement.CAPS == before
    with pytest.raises(RuntimeError, match="body failed"):
        with placement.distributed():
            raise RuntimeError("body failed")
    assert placement.CAPS == before


def test_caps_are_defined_only_in_placement():
    """No operator module defines its own driver-local cap, and every
    cap in CAPS is read by at least one gate.  CC_LOCAL_EDGE_LIMIT is
    not a driver cap (its labeling runs in one executor task) and
    stays in graph.py."""
    cap_name = re.compile(r"[A-Z0-9_]*_LOCAL_[A-Z0-9_]*MAX")
    stray, sources = [], []
    for path in sorted(OPERATORS.glob("*.py")):
        if path.name == "placement.py":
            continue
        src = path.read_text()
        sources.append(src)
        for node in ast.parse(src).body:
            targets = (node.targets if isinstance(node, ast.Assign)
                       else [node.target] if isinstance(node, ast.AnnAssign)
                       else [])
            stray += [f"{path.name}:{node.lineno} {t.id}" for t in targets
                      if isinstance(t, ast.Name)
                      and cap_name.fullmatch(t.id)]
    assert not stray, stray
    unread = [k for k in placement.CAPS
              if not any(f'CAPS["{k}"]' in s for s in sources)]
    assert not unread, unread


def _bucket_listing(layout: str) -> dict[str, list[str]]:
    return {
        b: sorted(os.listdir(os.path.join(layout, b)))
        for b in os.listdir(layout) if "=" in b
    }


def _assert_untouched_survive(before: dict, after: dict, pcol: str,
                              touched: set[int]) -> None:
    untouched = {b for b in before if int(b.split("=")[1]) not in touched}
    assert untouched, f"{pcol}: every bucket touched; nothing to check"
    for b in untouched:
        assert after.get(b) == before[b], (b, before[b], after.get(b))


def test_distributed_writers_leave_session_overwrite_mode_alone(
        spark, tmp_path):
    """The three distributed bucket writers (relabel, vertex layout,
    span-stats upsert) ask for dynamic partition overwrite on their own
    write: with the SESSION conf at ``static`` they still replace only
    the buckets they touch, and the session conf still reads
    ``static`` afterwards."""
    from pyspark.sql import functions as F

    from hfcommunity_spark.operators import dedup as dd
    from hfcommunity_spark.operators.graph import (
        _py_bucket,
        apply_changes_vertex_layout,
        apply_relabel_in_place,
        connected_components,
        write_component_assign,
        write_vertex_assign,
    )

    prev = spark.conf.get(_OVERWRITE_MODE)
    spark.conf.set(_OVERWRITE_MODE, "static")
    try:
        hist = spark.range(120).filter(F.col("id") % 10 != 9).select(
            F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
        assign = connected_components(hist).localCheckpoint()
        cdir, vdir = str(tmp_path / "cassign"), str(tmp_path / "vassign")
        write_component_assign(assign, cdir, buckets=8)
        write_vertex_assign(assign, vdir, 8)
        rel_rows = [(10, 0)]
        fresh_rows = [(100001, 100001)]
        ch_rows = [(10, 0), (100001, 100001)]
        c_before, v_before = _bucket_listing(cdir), _bucket_listing(vdir)
        with placement.distributed():
            apply_relabel_in_place(
                spark, cdir,
                spark.createDataFrame(rel_rows,
                                      "component long, merged long"),
                buckets=8,
                fresh=spark.createDataFrame(fresh_rows,
                                            "vertex long, component long"),
            )
            apply_changes_vertex_layout(
                spark, vdir,
                spark.createDataFrame(ch_rows,
                                      "vertex long, component long"),
                8,
            )
        assert spark.conf.get(_OVERWRITE_MODE) == "static"
        _assert_untouched_survive(
            c_before, _bucket_listing(cdir), "c_bucket",
            {_py_bucket(k, 8) for pair in rel_rows + fresh_rows
             for k in pair},
        )
        _assert_untouched_survive(
            v_before, _bucket_listing(vdir), "v_bucket",
            {_py_bucket(v, 8) for v, _ in ch_rows},
        )

        docs = spark.read.parquet(
            f"{SF_SMOKE}/documents.parquet").select("doc_id", "text")
        base = docs.filter(F.col("doc_id") % 3 != 1)
        pdir, sdir = str(tmp_path / "postings"), str(tmp_path / "stats")
        dd.write_span_postings(dd.span_postings_frame(base), pdir)
        dd.write_span_stats(
            dd.span_stats_from_postings(dd.span_postings_frame(base)),
            sdir,
        )

        def stats() -> dict:
            return {r.doc_id: (r.n_spans, r.n_dup_spans)
                    for r in spark.read.parquet(sdir).collect()}

        s_before, stats_before = _bucket_listing(sdir), stats()
        p_before = _bucket_listing(pdir)
        with placement.distributed():
            dd.span_fold_in_place(
                spark, pdir, sdir, docs.filter(F.col("doc_id") % 3 == 1))
        assert spark.conf.get(_OVERWRITE_MODE) == "static"
        stats_after = stats()
        changed = {d for d, v in stats_after.items()
                   if stats_before.get(d) != v}
        assert set(stats_before) <= set(stats_after)
        _assert_untouched_survive(
            s_before, _bucket_listing(sdir), "d_bucket",
            {_py_bucket(d, dd.SPAN_STATS_BUCKETS) for d in changed},
        )
        p_after = _bucket_listing(pdir)
        assert all(set(f) <= set(p_after[b]) for b, f in p_before.items())
    finally:
        spark.conf.set(_OVERWRITE_MODE, prev)
