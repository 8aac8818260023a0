"""SCD Type 2 history build / snapshot / incremental merge
(`operators/history.py`): hand-built ground truth, NULL semantics,
DuckDB mirror on events at sf0.01, merge ≡ full rebuild, plan shape.
"""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from web_api_postgres_etl_spark.operators.history import (
    scd2_history,
    scd2_merge,
    scd2_snapshot,
)

from tests.conftest import SF_ORACLE


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def _log(spark, rows):
    return spark.createDataFrame(rows, "k string, ts timestamp, attr string")


@pytest.fixture(scope="module")
def small_history(spark):
    # A: x, x(re-emit), y, y(re-emit), x(back) -> versions x,y,x
    # B: single observation
    # C: NULL, NULL(re-emit), z -> NULL collapses null-safely
    rows = [
        ("A", _ts("2024-01-01T00:00:00"), "x"),
        ("A", _ts("2024-01-02T00:00:00"), "x"),
        ("A", _ts("2024-01-03T00:00:00"), "y"),
        ("A", _ts("2024-01-04T00:00:00"), "y"),
        ("A", _ts("2024-01-05T00:00:00"), "x"),
        ("B", _ts("2024-01-02T00:00:00"), "b"),
        ("C", _ts("2024-01-01T00:00:00"), None),
        ("C", _ts("2024-01-02T00:00:00"), None),
        ("C", _ts("2024-01-03T00:00:00"), "z"),
    ]
    return scd2_history(_log(spark, rows), ["k"], "ts", ["attr"])


def test_ground_truth(small_history):
    got = {
        (r.k, r.attr, r.valid_from.isoformat(), r.valid_to and r.valid_to.isoformat(), r.is_current)
        for r in small_history.collect()
    }
    want = {
        ("A", "x", "2024-01-01T00:00:00", "2024-01-03T00:00:00", False),
        ("A", "y", "2024-01-03T00:00:00", "2024-01-05T00:00:00", False),
        ("A", "x", "2024-01-05T00:00:00", None, True),
        ("B", "b", "2024-01-02T00:00:00", None, True),
        ("C", None, "2024-01-01T00:00:00", "2024-01-03T00:00:00", False),
        ("C", "z", "2024-01-03T00:00:00", None, True),
    }
    assert got == want


def test_null_ts_raises(spark):
    df = _log(spark, [("A", None, "x")])
    with pytest.raises(Exception, match="NULL ts"):
        scd2_history(df, ["k"], "ts", ["attr"]).collect()


def test_validation(spark):
    df = _log(spark, [])
    with pytest.raises(ValueError, match="key column"):
        scd2_history(df, [], "ts", ["attr"])
    with pytest.raises(ValueError, match="attribute column"):
        scd2_history(df, ["k"], "ts", [])
    bad = df.withColumnRenamed("attr", "valid_from")
    with pytest.raises(ValueError, match="collide"):
        scd2_history(bad, ["k"], "ts", ["valid_from"])


def test_seq_tiebreak(spark):
    """Same-instant observations: the seq-last state holds; the earlier
    one is a zero-width interval and is dropped (a history never
    contains two rows with the same (key, valid_from))."""
    rows = [
        ("A", _ts("2024-01-01T00:00:00"), 2, "late"),
        ("A", _ts("2024-01-01T00:00:00"), 1, "early"),
        ("A", _ts("2024-01-02T00:00:00"), 3, "next"),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, seq int, attr string")
    hist = scd2_history(df, ["k"], "ts", ["attr"], seq_col="seq").collect()
    got = sorted((r.attr, r.valid_from.isoformat(), r.is_current) for r in hist)
    assert got == [
        ("late", "2024-01-01T00:00:00", False),
        ("next", "2024-01-02T00:00:00", True),
    ]


def test_snapshot_semantics(small_history):
    # boundary is half-open: at the instant a new state starts, see it
    at_boundary = scd2_snapshot(small_history, _ts("2024-01-03T00:00:00"))
    got = {(r.k, r.attr) for r in at_boundary.collect()}
    assert got == {("A", "y"), ("B", "b"), ("C", "z")}
    # before B's first state, B is absent
    early = scd2_snapshot(small_history, _ts("2024-01-01T12:00:00"))
    got = {(r.k, r.attr) for r in early.collect()}
    assert got == {("A", "x"), ("C", None)}
    assert "state_since" in at_boundary.columns
    assert "valid_to" not in at_boundary.columns


SQL_SCD2_EVENTS = """
WITH ordered AS (
  SELECT user_id, ts, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev,
         lag(1) OVER (PARTITION BY user_id ORDER BY ts) AS has_prev
  FROM events
), changes AS (
  SELECT user_id, ts, event_type FROM ordered
  WHERE has_prev IS NULL OR event_type IS DISTINCT FROM prev
)
SELECT user_id, event_type, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL AS is_current
FROM changes
"""


def test_duckdb_mirror_events(spark, oracle):
    events = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    hist = scd2_history(events, ["user_id"], "ts", ["event_type"])
    s_rows = {
        (r.user_id, r.event_type, r.valid_from, r.valid_to, r.is_current)
        for r in hist.collect()
    }
    d_rows = set(map(tuple, oracle.execute(SQL_SCD2_EVENTS).fetchall()))
    assert len(s_rows) == hist.count()
    assert s_rows == d_rows
    # sanity: collapse actually dropped consecutive re-emits
    assert len(s_rows) < events.count()


def test_single_shuffle_plan(spark):
    events = spark.read.parquet(f"{SF_ORACLE}/events.parquet")
    hist = scd2_history(events, ["user_id"], "ts", ["event_type"])
    hist.count()
    plan = hist._jdf.queryExecution().executedPlan().toString()
    n_exch = len(re.findall(r"\bExchange\b", plan))
    assert n_exch == 1, f"expected one shuffle, got {n_exch}:\n{plan}"
    n_sort = len(re.findall(r"\bSort\b", plan))
    assert n_sort == 1, f"expected one sort (shared by both windows):\n{plan}"


def test_merge_equals_full_rebuild_in_order(spark):
    events = spark.read.parquet(f"{SF_ORACLE}/events.parquet").filter(
        F.col("user_id") < 40
    )
    cut = _ts("2024-01-10T00:00:00")
    full = scd2_history(events, ["user_id"], "ts", ["event_type"])
    first = scd2_history(events.filter(F.col("ts") < cut), ["user_id"], "ts", ["event_type"])
    merged = scd2_merge(
        first, events.filter(F.col("ts") >= cut), ["user_id"], "ts", ["event_type"]
    )
    canon = lambda df: sorted(map(tuple, df.collect()))
    assert canon(merged) == canon(full)


def test_merge_late_and_tie(spark):
    base = scd2_history(
        _log(
            spark,
            [
                ("A", _ts("2024-01-01T00:00:00"), "x"),
                ("A", _ts("2024-01-05T00:00:00"), "y"),
                ("B", _ts("2024-01-01T00:00:00"), "b"),
            ],
        ),
        ["k"],
        "ts",
        ["attr"],
    )
    late = _log(
        spark,
        [
            ("A", _ts("2024-01-03T00:00:00"), "mid"),  # lands between x and y
            ("B", _ts("2024-01-01T00:00:00"), "b2"),  # same-ts tie: change wins
        ],
    )
    merged = scd2_merge(base, late, ["k"], "ts", ["attr"])
    got = {
        (r.k, r.attr, r.valid_from.isoformat(), r.valid_to and r.valid_to.isoformat())
        for r in merged.collect()
    }
    want = {
        ("A", "x", "2024-01-01T00:00:00", "2024-01-03T00:00:00"),
        ("A", "mid", "2024-01-03T00:00:00", "2024-01-05T00:00:00"),
        ("A", "y", "2024-01-05T00:00:00", None),
        ("B", "b2", "2024-01-01T00:00:00", None),
    }
    assert got == want
    # exactly one row survived the same-ts tie
    assert merged.filter(F.col("k") == "B").count() == 1


def test_merge_untouched_keys_pass_through(spark):
    base = scd2_history(
        _log(
            spark,
            [
                ("A", _ts("2024-01-01T00:00:00"), "x"),
                ("Z", _ts("2024-01-01T00:00:00"), "z1"),
                ("Z", _ts("2024-01-02T00:00:00"), "z2"),
            ],
        ),
        ["k"],
        "ts",
        ["attr"],
    )
    merged = scd2_merge(
        base, _log(spark, [("A", _ts("2024-01-02T00:00:00"), "x2")]), ["k"], "ts", ["attr"]
    )
    z_rows = {
        (r.attr, r.valid_from.isoformat(), r.is_current)
        for r in merged.filter(F.col("k") == "Z").collect()
    }
    assert z_rows == {
        ("z1", "2024-01-01T00:00:00", False),
        ("z2", "2024-01-02T00:00:00", True),
    }
    a_current = merged.filter((F.col("k") == "A") & F.col("is_current")).collect()
    assert [(r.attr,) for r in a_current] == [("x2",)]


def test_merge_with_seq_col(spark):
    """Regression: merge with a seq_col on the changes batch (the batch
    column is projected AFTER __src is computed from it)."""
    base = scd2_history(
        _log(spark, [("A", _ts("2024-01-01T00:00:00"), "x")]), ["k"], "ts", ["attr"]
    )
    changes = spark.createDataFrame(
        [
            ("A", _ts("2024-01-02T00:00:00"), 1, "mid"),
            ("A", _ts("2024-01-02T00:00:00"), 2, "winner"),
        ],
        "k string, ts timestamp, seq int, attr string",
    )
    merged = scd2_merge(base, changes, ["k"], "ts", ["attr"], seq_col="seq")
    got = sorted((r.attr, r.is_current) for r in merged.collect())
    assert got == [("winner", True), ("x", False)]


def test_merge_preserves_seq_built_history(spark):
    """Regression (review finding): a history built WITH seq ties must
    replay losslessly — no version vanishes, no superseded state is
    resurrected, because zero-width rows never enter the history."""
    log = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01T00:00:00"), 1, "early"),
            ("A", _ts("2024-01-01T00:00:00"), 2, "late"),
            ("A", _ts("2024-01-05T00:00:00"), 3, "v2"),
        ],
        "k string, ts timestamp, seq int, attr string",
    )
    base = scd2_history(log, ["k"], "ts", ["attr"], seq_col="seq")
    # unrelated later change for the same key forces a replay
    merged = scd2_merge(
        base, _log(spark, [("A", _ts("2024-01-07T00:00:00"), "v3")]), ["k"], "ts", ["attr"]
    )
    got = sorted(
        (r.attr, r.valid_from.isoformat(), r.valid_to and r.valid_to.isoformat())
        for r in merged.collect()
    )
    assert got == [
        ("late", "2024-01-01T00:00:00", "2024-01-05T00:00:00"),
        ("v2", "2024-01-05T00:00:00", "2024-01-07T00:00:00"),
        ("v3", "2024-01-07T00:00:00", None),
    ]


def test_maintain_history_bootstrap_and_fold(spark, tmp_path):
    """Persisted-artifact face: absent path bootstraps; the second
    batch folds via the tmp-write + rename swap and the result equals a
    one-shot build over all observations."""
    from web_api_postgres_etl_spark.operators.history import maintain_history

    path = str(tmp_path / "dim_history")
    all_rows = [
        ("A", _ts("2024-01-01T00:00:00"), "x"),
        ("A", _ts("2024-01-03T00:00:00"), "y"),
        ("B", _ts("2024-01-02T00:00:00"), "b"),
        ("A", _ts("2024-01-05T00:00:00"), "y"),  # no-op re-emit collapses
        ("C", _ts("2024-01-04T00:00:00"), "c"),
    ]
    n1 = maintain_history(
        spark, _log(spark, all_rows[:3]), path, ["k"], "ts", ["attr"]
    )
    assert n1 == 3
    n2 = maintain_history(
        spark, _log(spark, all_rows[3:]), path, ["k"], "ts", ["attr"]
    )
    assert n2 == 4  # A keeps x,y (re-emit collapsed); B; C
    got = sorted(map(tuple, spark.read.parquet(path).collect()))
    want = sorted(
        map(tuple, scd2_history(_log(spark, all_rows), ["k"], "ts", ["attr"]).collect())
    )
    assert got == want
    # no .tmp/.old residue from the swap
    import os
    assert not os.path.exists(path + ".tmp") and not os.path.exists(path + ".old")


def test_maintain_history_recovers_crashed_swap(spark, tmp_path):
    """Regression: a crash in replace_table's rename window
    leaves the live history in .old and the path missing — the next
    fold must RECOVER it, not misread the gap as a bootstrap and
    rebuild from the new batch alone."""
    import shutil

    from web_api_postgres_etl_spark.operators.history import maintain_history

    path = str(tmp_path / "dim_history")
    maintain_history(
        spark, _log(spark, [("A", _ts("2024-01-01T00:00:00"), "x")]),
        path, ["k"], "ts", ["attr"],
    )
    # simulate the crash window: live dir moved to .old, path gone
    shutil.move(path, path + ".old")
    n = maintain_history(
        spark, _log(spark, [("B", _ts("2024-01-02T00:00:00"), "b")]),
        path, ["k"], "ts", ["attr"],
    )
    assert n == 2  # A's history survived the crashed swap
    got = sorted((r.k, r.attr) for r in spark.read.parquet(path).collect())
    assert got == [("A", "x"), ("B", "b")]
