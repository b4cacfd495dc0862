"""Rolling z-score anomaly detection (reports/anomaly.rolling_zscore):
hand-computed law, warmup/flat-window NULLs, loud guards, single-exchange
plan, and DuckDB parity on a seeded irregular series."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from etl_scripts_spark.reports.anomaly import rolling_zscore

SCHEMA = "k string, ts bigint, v bigint"


def _z(values, x):
    n = len(values)
    s1, s2 = sum(values), sum(v * v for v in values)
    var = (float(s2) - float(s1) * float(s1) / n) / (n - 1)
    return round((float(x) - float(s1) / n) / math.sqrt(var), 9)


def test_hand_computed_z(spark):
    rows = [("a", t, v) for t, v in enumerate([1, 2, 3, 4, 5, 100])]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {
        r["ts"]: (r["roll_n"], r["z"], r["is_anomaly"])
        for r in rolling_zscore(df, "k", "ts", "v", window=5, min_periods=2).collect()
    }
    assert out[0] == (0, None, None)  # empty frame
    assert out[1] == (1, None, None)  # below min_periods
    assert out[2][0] == 2 and out[2][1] == _z([1, 2], 3)
    assert out[5] == (5, _z([1, 2, 3, 4, 5], 100), True)
    assert out[3][2] is False  # in-pattern row not flagged


def test_flat_window_is_null_not_infinite(spark):
    rows = [("a", t, 7) for t in range(6)]
    df = spark.createDataFrame(rows, SCHEMA)
    out = rolling_zscore(df, "k", "ts", "v", window=5, min_periods=2).collect()
    assert all(r["z"] is None and r["is_anomaly"] is None for r in out)


def test_window_excludes_current_row(spark):
    """A spike must not mask itself: with the current row in-frame the
    spike inflates its own baseline. frame=[1,1,1], x=50 → z vs mean 1."""
    rows = [("a", t, v) for t, v in enumerate([1, 1, 1, 50])]
    df = spark.createDataFrame(rows, SCHEMA)
    r = {r["ts"]: r for r in rolling_zscore(df, "k", "ts", "v", window=3, min_periods=2).collect()}
    assert r[3]["z"] is None  # frame [1,1,1] is flat — current row excluded
    rows2 = [("a", t, v) for t, v in enumerate([1, 2, 1, 50])]
    df2 = spark.createDataFrame(rows2, SCHEMA)
    r2 = {r["ts"]: r for r in rolling_zscore(df2, "k", "ts", "v", window=3, min_periods=2).collect()}
    assert r2[3]["z"] == _z([1, 2, 1], 50) and r2[3]["is_anomaly"]


def test_null_value_skipped_in_frame_and_null_current_z_null(spark):
    rows = [("a", 0, 1), ("a", 1, None), ("a", 2, 3), ("a", 3, 10), ("a", 4, None)]
    df = spark.createDataFrame(rows, SCHEMA)
    out = {r["ts"]: r for r in rolling_zscore(df, "k", "ts", "v", window=4, min_periods=2).collect()}
    assert out[3]["roll_n"] == 2 and out[3]["z"] == _z([1, 3], 10)
    assert out[4]["z"] is None  # current value NULL


def test_duplicate_or_null_order_raises(spark):
    dup = spark.createDataFrame([("a", 1, 1), ("a", 1, 2), ("a", 2, 3)], SCHEMA)
    with pytest.raises(Exception, match="duplicate"):
        rolling_zscore(dup, "k", "ts", "v").collect()
    nul = spark.createDataFrame([("a", None, 1), ("a", 2, 3)], SCHEMA)
    with pytest.raises(Exception, match="NULL or duplicate"):
        rolling_zscore(nul, "k", "ts", "v").collect()


def test_guards(spark):
    df = spark.createDataFrame([("a", 1, 1)], SCHEMA)
    with pytest.raises(ValueError, match="window"):
        rolling_zscore(df, "k", "ts", "v", window=0)
    with pytest.raises(ValueError, match="min_periods"):
        rolling_zscore(df, "k", "ts", "v", window=5, min_periods=1)
    fl = spark.createDataFrame([("a", 1, 1.5)], "k string, ts bigint, v double")
    with pytest.raises(ValueError, match="exact arithmetic"):
        rolling_zscore(fl, "k", "ts", "v")
    cl = df.withColumn("_rz_n", F.lit(1))
    with pytest.raises(ValueError, match="collide"):
        rolling_zscore(cl, "k", "ts", "v")


def test_single_exchange_plan(spark):
    """The peer-count guard and both moment windows ride ONE key exchange
    — an extra shuffle per guard would double the op's cost at scale."""
    import contextlib
    import io

    df = spark.createDataFrame([("a", t, t) for t in range(10)], SCHEMA)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rolling_zscore(df, "k", "ts", "v").explain("formatted")
    plan = buf.getvalue()
    # formatted mode puts arguments on their own line — count tree nodes
    assert plan.count("- Exchange (") == 1, plan[:400]


def test_guard_and_z_are_evaluated_once_per_row(spark):
    """The guard and z each live in one column that the output columns
    read: the optimized plan holds the dup-guard message once and one
    SQRT, not one copy per output column that references them."""
    df = spark.createDataFrame([("a", t, t) for t in range(10)], SCHEMA)
    plan = (
        rolling_zscore(df, "k", "ts", "v")._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("NULL or duplicate (key, order)") == 1, plan
    assert plan.count("SQRT(") == 1, plan


def test_duckdb_parity_seeded_series(spark):
    import duckdb

    from etl_scripts_spark.oracle import rolling_zscore_sql
    from tests.parity import compare

    rng = random.Random(43)
    rows = []
    for k in ("a", "b", "c"):
        for t in range(200):
            v = None if rng.random() < 0.05 else rng.randrange(-1000, 1000)
            rows.append((k, t * 10 + rng.randrange(9), v))
    df = spark.createDataFrame(rows, SCHEMA)
    got = rolling_zscore(df, "k", "ts", "v", window=12, min_periods=4).toPandas()
    con = duckdb.connect()
    con.execute("CREATE TABLE t(k VARCHAR, ts BIGINT, v BIGINT)")
    con.executemany("INSERT INTO t VALUES (?,?,?)", rows)
    want = con.execute(
        rolling_zscore_sql("SELECT * FROM t", "k", "ts", "v", window=12, min_periods=4)
    ).fetchdf()
    assert compare(got, want) == []


def test_guards_survive_column_pruning(spark):
    """The dup/NULL-order raise is embedded in EVERY output column: a
    caller selecting only z (not roll_n) must still hit the guard —
    Catalyst would otherwise prune the raising expression away with the
    column that carried it."""
    dup = spark.createDataFrame([("a", 1, 1), ("a", 1, 2), ("a", 2, 3)], SCHEMA)
    with pytest.raises(Exception, match="duplicate"):
        rolling_zscore(dup, "k", "ts", "v").select("z").collect()
    with pytest.raises(Exception, match="duplicate"):
        rolling_zscore(dup, "k", "ts", "v").select("is_anomaly").collect()
