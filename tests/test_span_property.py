"""Property-based checks (hypothesis) for the span fold's Arrow kernel:
for ANY base postings and ANY delivery of new docs, the batch stats
and old-doc increments of ``_span_changed_local`` equal a brute-force
from-scratch rollup over base ∪ batch postings, restricted to the docs
the delivery changed; and the kernel run per group of ``h`` values,
as the distributed chain runs it, merges to the kernel run on the
whole.  Pure Arrow and Python — no Spark session."""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
from hypothesis import example, given, settings
from hypothesis import strategies as st

from hfcommunity_spark.operators.dedup import (
    _SPAN_CHANGED_MERGE,
    _span_changed_group,
    _span_changed_local,
)

# a small hash domain so a hash's cross-doc count moves 0→1, 1→2 and
# 2→3 across a delivery; the int64 extremes and negatives are in it
_LO, _HI = -(1 << 63), (1 << 63) - 1
_H = st.sampled_from([_LO, -7, 0, 1, 7, _HI])
_C = st.integers(min_value=1, max_value=4)
_BASE = st.dictionaries(
    st.tuples(st.integers(min_value=0, max_value=5), _H), _C, max_size=14
)
# batch doc_ids are disjoint from base doc_ids (the delivery contract)
_BATCH = st.dictionaries(
    st.tuples(st.integers(min_value=100, max_value=103), _H), _C,
    max_size=10,
)


def _table(rows: dict) -> pa.Table:
    i64 = pa.int64()
    return pa.table({
        "doc_id": pa.array([d for d, _ in rows], i64),
        "h": pa.array([h for _, h in rows], i64),
        "c": pa.array(list(rows.values()), i64),
    })


def _rollup(rows: dict) -> dict:
    """{doc_id: (n_spans, n_dup_spans)} from scratch."""
    nd = Counter(h for _, h in rows)
    out: dict = {}
    for (d, h), c in rows.items():
        ns, dup = out.get(d, (0, 0))
        out[d] = (ns + c, dup + (c if nd[h] >= 2 else 0))
    return out


@settings(max_examples=300, deadline=None)
@given(base=_BASE, batch=_BATCH)
@example(base={(0, 7): 1}, batch={})  # empty delivery
@example(base={(0, 1): 2}, batch={(100, 7): 2, (101, 7): 1})  # nd 0→2
@example(base={(0, 7): 1}, batch={(100, 7): 3})  # nd 1→2
@example(base={(0, 7): 1, (1, 7): 2}, batch={(100, 7): 1})  # nd 2→3
@example(base={(0, _LO): 3, (1, _HI): 1}, batch={(100, _LO): 1,
                                                 (100, _HI): 2})
def test_span_changed_local_equals_rebuild(base, batch):
    batch_h = {h for _, h in batch}
    probe = {k: c for k, c in base.items() if k[1] in batch_h}
    new_t, old_t = _span_changed_local(_table(batch), _table(probe))

    before, after = _rollup(base), _rollup({**base, **batch})
    new_docs = {d for d, _ in batch}
    want_new = {d: after[d] for d in new_docs}
    want_old = {d: v for d, v in after.items()
                if d not in new_docs and v != before[d]}

    new = {r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
           for r in new_t.to_pylist()}
    inc = {r["doc_id"]: r["inc"] for r in old_t.to_pylist()}
    assert len(new) == new_t.num_rows and len(inc) == old_t.num_rows
    assert new == want_new
    assert all(v > 0 for v in inc.values())
    assert {d: (before[d][0], before[d][1] + v)
            for d, v in inc.items()} == want_old


def _split(rows: dict, tag: int, hs) -> list:
    return [(d, h, c, tag) for (d, h), c in rows.items() if h in hs]


# a group per hash value, out of four; batch doc_ids may collide with
# base doc_ids, which the merge must count as batch docs
_GROUP_OF = st.fixed_dictionaries(
    {h: st.integers(min_value=0, max_value=3)
     for h in (_LO, -7, 0, 1, 7, _HI)}
)
_BATCH_ANY = st.dictionaries(
    st.tuples(st.sampled_from([4, 5, 100, 101]), _H), _C, max_size=10,
)


@settings(max_examples=300, deadline=None)
@given(base=_BASE, batch=_BATCH_ANY, group_of=_GROUP_OF)
@example(base={(0, 7): 1, (1, 1): 2},  # group 2: batch rows, no probe
         batch={(100, 7): 2, (100, 0): 1, (101, 0): 3},
         group_of={_LO: 0, -7: 0, 0: 2, 1: 1, 7: 1, _HI: 0})
@example(base={(4, 7): 1}, batch={(4, 1): 2, (100, 7): 1},  # collision
         group_of={_LO: 0, -7: 0, 0: 0, 1: 1, 7: 2, _HI: 0})
def test_span_changed_per_group_merge_equals_whole(base, batch, group_of):
    batch_h = {h for _, h in batch}
    probe = {k: c for k, c in base.items() if k[1] in batch_h}
    new_t, old_t = _span_changed_local(_table(batch), _table(probe))
    want_new = {r["doc_id"]: (r["n_spans"], r["n_dup_spans"])
                for r in new_t.to_pylist()}
    want_old = {r["doc_id"]: r["inc"] for r in old_t.to_pylist()}

    # group 4 is always empty
    parts = []
    i64 = pa.int64()
    for g in range(5):
        hs = {h for h, gg in group_of.items() if gg == g}
        rows = _split(batch, 1, hs) + _split(probe, 0, hs)
        parts.append(_span_changed_group(pa.table({
            "doc_id": pa.array([r[0] for r in rows], i64),
            "h": pa.array([r[1] for r in rows], i64),
            "c": pa.array([r[2] for r in rows], i64),
            "tag": pa.array([r[3] for r in rows], pa.int32()),
        })))
    merged = pa.concat_tables(parts).group_by("doc_id").aggregate(
        list(_SPAN_CHANGED_MERGE)
    ).to_pylist()
    got_new = {r["doc_id"]: (r["n_spans_new_sum"], r["dup_new_sum"])
               for r in merged if r["is_new_max"] == 1}
    got_old = {r["doc_id"]: r["inc_sum"]
               for r in merged if r["is_new_max"] == 0}
    assert len(got_new) + len(got_old) == len(merged)
    assert got_new == want_new
    assert got_old == want_old
