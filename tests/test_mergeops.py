"""Property tests for D1/D2/D3/U1 merge semantics against DuckDB's
native INSERT OR IGNORE / ON CONFLICT DO UPDATE — the same contract
MariaDB gave the reference (databaseImport.py:277,:641,:609)."""

from __future__ import annotations

import random

import duckdb
import pandas as pd
import pytest

from hfcommunity_spark.operators.mergeops import (
    insert_ignore,
    partial_update,
    priority_union,
    upsert,
)


def _rand_batch(rng: random.Random, n: int, tag: str) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "k": [rng.randint(0, 9) for _ in range(n)],
            "a": [f"{tag}{i}" for i in range(n)],
            "b": [rng.randint(0, 100) for _ in range(n)],
            "seq": list(range(n)),
        }
    )


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_insert_ignore_matches_duckdb(spark, seed):
    rng = random.Random(seed)
    b1, b2 = _rand_batch(rng, 12, "x"), _rand_batch(rng, 12, "y")

    empty = spark.createDataFrame(b1).limit(0)
    d1 = insert_ignore(empty, spark.createDataFrame(b1), ["k"], ["seq"])
    got = (
        insert_ignore(d1, spark.createDataFrame(b2), ["k"], ["seq"])
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k INT PRIMARY KEY, a VARCHAR, b INT, seq INT)")
    for df in (b1, b2):  # row-at-a-time, like the reference
        for r in df.itertuples(index=False):
            con.execute(
                "INSERT OR IGNORE INTO t VALUES (?, ?, ?, ?)",
                [r.k, r.a, r.b, r.seq],
            )
    want = con.execute("SELECT * FROM t ORDER BY k").df()
    pd.testing.assert_frame_equal(
        got.astype({"k": "int64", "b": "int64", "seq": "int64"}),
        want.astype({"k": "int64", "b": "int64", "seq": "int64"}),
    )


@pytest.mark.parametrize("seed", [0, 1])
def test_upsert_matches_duckdb(spark, seed):
    rng = random.Random(100 + seed)
    b1, b2 = _rand_batch(rng, 10, "x"), _rand_batch(rng, 10, "y")
    # PK-unique inputs (last writer wins within each batch, by seq)
    b1u = b1.sort_values("seq").groupby("k", as_index=False).last()
    b2u = b2.sort_values("seq").groupby("k", as_index=False).last()

    got = (
        upsert(
            spark.createDataFrame(b1u),
            spark.createDataFrame(b2u),
            ["k"],
            update_cols=["a", "b"],  # seq is NOT in the update list
        )
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )

    con = duckdb.connect()
    con.execute("CREATE TABLE t (k INT PRIMARY KEY, a VARCHAR, b INT, seq INT)")
    for df in (b1u, b2u):
        for r in df.itertuples(index=False):
            con.execute(
                "INSERT INTO t VALUES (?, ?, ?, ?) "
                "ON CONFLICT (k) DO UPDATE SET a = excluded.a, b = excluded.b",
                [r.k, r.a, r.b, r.seq],
            )
    want = con.execute("SELECT * FROM t ORDER BY k").df()
    pd.testing.assert_frame_equal(
        got.astype({"k": "int64", "b": "int64", "seq": "int64"}),
        want.astype({"k": "int64", "b": "int64", "seq": "int64"}),
    )


def test_partial_update_no_inserts(spark):
    existing = spark.createDataFrame(
        pd.DataFrame({"k": [1, 2], "likes": [5, 7], "name": ["a", "b"]})
    )
    updates = spark.createDataFrame(
        pd.DataFrame({"k": [2, 3], "likes": [99, 42], "name": ["B", "C"]})
    )
    out = (
        partial_update(existing, updates, ["k"], ["likes"])
        .toPandas()
        .sort_values("k")
        .reset_index(drop=True)
    )
    assert out["k"].tolist() == [1, 2]  # k=3 NOT inserted (UPDATE-only)
    assert out["likes"].tolist() == [5, 99]
    assert out["name"].tolist() == ["a", "b"]  # unlisted column untouched


def test_priority_union_richer_source_wins(spark):
    # author streams: "commit" stubs vs richer "hf" rows (:513-518)
    commit_stub = spark.createDataFrame(
        pd.DataFrame(
            {"username": ["u1", "u2"], "fullname": [None, None],
             "source": ["commit", "commit"]}
        )
    )
    hf_rich = spark.createDataFrame(
        pd.DataFrame(
            {"username": ["u2", "u3"], "fullname": ["User Two", "User Three"],
             "source": ["hf", "hf"]}
        )
    )
    out = (
        priority_union(
            [(commit_stub, 1), (hf_rich, 2)], ["username"], ["source"]
        )
        .toPandas()
        .sort_values("username")
        .reset_index(drop=True)
    )
    assert out["source"].tolist() == ["commit", "hf", "hf"]
    assert out["fullname"].tolist()[1] == "User Two"


def _x19_events(spark, rows):
    """(user_id, ts_us, event_id, event_type) rows as the events
    shape x19 consumes (timestamp_ntz ts)."""
    import datetime

    return spark.createDataFrame(
        [(u, datetime.datetime(2024, 1, 1) +
          datetime.timedelta(microseconds=t), e, s)
         for u, t, e, s in rows],
        "user_id long, ts timestamp_ntz, event_id long, "
        "event_type string",
    )


def test_x19_kernel_guard_raises(spark, tmp_path):
    """An out-of-order delivery (an event timestamped before its
    key's fold watermark) raises: ``ValueError`` from the kernel
    itself, a ``PythonException`` through the face's grouped plan.
    Key 1's base run starts at ts=100 (watermark 100); its
    delivery-0 event at ts=50 violates the contract."""
    from pyspark.errors import PythonException

    from hfcommunity_spark.operators.mergeops import (
        _x19_kernel,
        x19_stream_scd2_dim,
    )

    # n_top = 8 -> cuts [0,2,4,6,8]: base ids {0,1}, deliveries
    # {2,3}, {4,5}, {6,7}
    ev = _x19_events(spark, [
        (1, 100, 0, "a"), (2, 10, 1, "a"),
        (1, 50, 2, "b"),  # delivery 0, predates key 1's watermark
        (2, 20, 3, "b"),
        (1, 300, 4, "a"), (2, 30, 5, "a"),
        (1, 400, 6, "b"), (2, 40, 7, "b"),
    ])
    with pytest.raises(ValueError, match="in-order.*contract"):
        _x19_kernel(ev.toArrow(), 8)
    ev.write.parquet(str(tmp_path / "events.parquet"))
    with pytest.raises(PythonException, match="in-order.*contract"):
        x19_stream_scd2_dim(spark, str(tmp_path))
    # and a clean in-order feed folds fine
    ok = _x19_events(spark, [
        (1, 100, 0, "a"), (2, 10, 1, "a"),
        (1, 150, 2, "b"), (2, 20, 3, "b"),
        (1, 300, 4, "a"), (2, 30, 5, "a"),
        (1, 400, 6, "b"), (2, 40, 7, "b"),
    ])
    out = _x19_kernel(ok.toArrow(), 8)
    rows = {(r["delivery_id"], r["user_id"], r["state"],
             r["valid_from"].microsecond,
             r["valid_to"].microsecond if r["valid_to"] else None)
            for r in out.to_pylist()}
    # delivery 0 closes key 1's 'a' run at 150 and opens 'b'
    assert (0, 1, "a", 100, 150) in rows
    assert (0, 1, "b", 150, None) in rows
