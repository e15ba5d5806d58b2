"""Property-based checks (hypothesis) for the merge operators: for ANY
two batches with colliding keys, insert_ignore/upsert must agree with
DuckDB's native conflict handling executed row-at-a-time — the exact
contract MariaDB gave the reference.  For ANY dense, in-order event
feed, the x19 SCD2 kernel must agree with its DuckDB oracle."""

from __future__ import annotations

import datetime
from collections import Counter

import duckdb
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from hfcommunity_spark.operators.mergeops import (
    _x19_kernel,
    _x19_oracle,
    insert_ignore,
    upsert,
)

row = st.tuples(
    st.integers(min_value=0, max_value=4),      # key (forced collisions)
    st.text(alphabet="abcxyz", min_size=0, max_size=4),
    st.integers(min_value=-5, max_value=5),
)
batch = st.lists(row, min_size=0, max_size=8)


def _pdf(rows):
    return pd.DataFrame(
        [(k, a, b, i) for i, (k, a, b) in enumerate(rows)],
        columns=["k", "a", "b", "seq"],
    )


@pytest.fixture(scope="module")
def prop_spark(spark):
    return spark


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(b1=batch, b2=batch)
def test_insert_ignore_property(prop_spark, b1, b2):
    spark = prop_spark
    p1, p2 = _pdf(b1), _pdf(b2)
    schema = "k int, a string, b int, seq int"
    d1 = spark.createDataFrame(p1, schema=schema)
    d2 = spark.createDataFrame(p2, schema=schema)
    got = (
        insert_ignore(
            insert_ignore(d1.limit(0), d1, ["k"], ["seq"]),
            d2, ["k"], ["seq"],
        )
        .toPandas()
        .sort_values(["k"])
        .reset_index(drop=True)
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k INT PRIMARY KEY, a VARCHAR, b INT, seq INT)")
    for pdf in (p1, p2):
        for r in pdf.itertuples(index=False):
            con.execute("INSERT OR IGNORE INTO t VALUES (?, ?, ?, ?)", list(r))
    want = con.execute("SELECT * FROM t ORDER BY k").df()
    pd.testing.assert_frame_equal(
        got.astype({"k": "int64", "b": "int64", "seq": "int64"}) if len(got) else got,
        want.astype({"k": "int64", "b": "int64", "seq": "int64"}) if len(want) else want,
        check_dtype=False,
    )


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(b1=batch, b2=batch)
def test_upsert_property(prop_spark, b1, b2):
    spark = prop_spark
    # PK-unique inputs: last writer per key by seq (within-batch rule)
    p1 = _pdf(b1).sort_values("seq").groupby("k", as_index=False).last()
    p2 = _pdf(b2).sort_values("seq").groupby("k", as_index=False).last()
    schema = "k int, a string, b int, seq int"
    got = (
        upsert(
            spark.createDataFrame(p1, schema=schema),
            spark.createDataFrame(p2, schema=schema),
            ["k"], update_cols=["a", "b"],
        )
        .toPandas()
        .sort_values(["k"])
        .reset_index(drop=True)
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k INT PRIMARY KEY, a VARCHAR, b INT, seq INT)")
    for pdf in (p1, p2):
        for r in pdf.itertuples(index=False):
            con.execute(
                "INSERT INTO t VALUES (?, ?, ?, ?) ON CONFLICT (k) DO UPDATE "
                "SET a = excluded.a, b = excluded.b",
                list(r),
            )
    want = con.execute("SELECT * FROM t ORDER BY k").df()
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


# one event per step: (user_id, ts advance, event_type).  ts never
# goes back and event ids count steps, so every feed is dense and in
# order; an advance of 0 is a ts tie.
x19_step = st.tuples(
    st.integers(min_value=0, max_value=5),
    st.integers(min_value=0, max_value=2),
    st.sampled_from("ab"),
)


@settings(max_examples=60, deadline=None)
@given(steps=st.lists(x19_step, min_size=1, max_size=40),
       groups=st.integers(min_value=1, max_value=3))
# 8 events, cuts at ids 2/4/6: ts ties (ids 0-1, 3, 5-6), key 1 first
# seen in delivery 0, key 2 a single event in delivery 1, key 1 in
# one state across deliveries, key 0 re-entering state "a"
@example(steps=[(0, 0, "a"), (0, 0, "b"), (1, 1, "a"), (0, 0, "b"),
                (0, 1, "b"), (2, 0, "a"), (0, 0, "a"), (1, 1, "a")],
         groups=2)
def test_x19_kernel_property(steps, groups):
    """The kernel, run once per user group as the face runs it, equals
    DuckDB running the x19 oracle over the whole feed."""
    t0, ts = datetime.datetime(2024, 1, 1), 0
    rows = []
    for i, (u, dt, s) in enumerate(steps):
        ts += dt
        rows.append((u, t0 + datetime.timedelta(seconds=ts), i, s))
    feed = pa.table({
        "user_id": pa.array([r[0] for r in rows], pa.int64()),
        "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
        "event_id": pa.array([r[2] for r in rows], pa.int64()),
        "event_type": pa.array([r[3] for r in rows], pa.string()),
    })
    got = Counter()
    for g in range(groups):
        part = feed.filter(pa.array([r[0] % groups == g for r in rows]))
        if part.num_rows:
            got.update(
                tuple(r.values()) for r in
                _x19_kernel(part, len(rows)).to_pylist()
            )
    con = duckdb.connect()
    con.register("events", feed)
    want = Counter(con.execute(_x19_oracle()).fetchall())
    con.close()
    assert got == want
