"""Streaming rolling z-score (streaming/mv.py
stateful_rolling_zscore_available_now): AvailableNow drain equals the
batch operator row-for-row, NULL values ride the frame law, and
out-of-order timestamps raise instead of silently mis-framing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_scripts_spark.reports.anomaly import rolling_zscore
from etl_scripts_spark.streaming.mv import stateful_rolling_zscore_available_now

SF_EVENTS = "/root/testdata/sf0.001/events.parquet"


def _key(t):
    return tuple((v is not None, v) for v in t)


def test_drain_equals_batch_operator(spark, tmp_path):
    """The whole contract: streaming emission == reports/anomaly batch law
    over the same events, including the 9-dp HALF_UP rounding."""
    got = sorted(
        (
            (r["user_id"], r["ts_us"], r["v"], r["roll_n"], r["z"], r["is_anomaly"])
            for r in stateful_rolling_zscore_available_now(
                spark, SF_EVENTS, str(tmp_path / "root"), window=12, min_periods=4
            ).collect()
        ),
        key=_key,
    )
    ev = spark.read.parquet(SF_EVENTS).select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )
    want = sorted(
        (
            (r["user_id"], r["ts_us"], r["v"], r["roll_n"], r["z"], r["is_anomaly"])
            for r in rolling_zscore(
                ev, "user_id", "ts_us", "v", window=12, min_periods=4
            ).collect()
        ),
        key=_key,
    )
    assert len(got) == len(want) > 0
    assert got == want


def test_null_values_ride_the_frame(spark, tmp_path):
    """A NULL value occupies a frame ROW (physical-row frame law) but is
    skipped by the moment sums — same as the batch operator."""
    import datetime as dt

    path = str(tmp_path / "ev")
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, s), 7, float(v) if v is not None else None, "t", "{}")
        for s, v in enumerate([1.0, None, 3.0, 10.0])
    ]
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double, event_type string, props string"
    ).coalesce(1).write.parquet(path)
    out = {
        r["ts_us"]: (r["roll_n"], r["z"])
        for r in stateful_rolling_zscore_available_now(
            spark, f"{path}/part-00000*.parquet", str(tmp_path / "root"),
            window=3, min_periods=2,
        ).collect()
    }
    # 4 events; frames hold 0,1,1,2 non-null prior values respectively
    assert [v[0] for k, v in sorted(out.items())] == [0, 1, 1, 2]
    assert [v[1] is not None for k, v in sorted(out.items())] == [False, False, False, True]


def test_out_of_order_raises(spark, tmp_path):
    import datetime as dt

    path = str(tmp_path / "ev2")
    # one batch holding a timestamp tie for one user: the fold's
    # duplicate guard fires (tests/test_streaming_keyed.py drives an
    # older timestamp across two micro-batches)
    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 0, 5), 7, 1.0, "t", "{}"),
        (2, dt.datetime(2024, 1, 1, 0, 0, 5), 7, 2.0, "t", "{}"),
    ]
    spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, value double, event_type string, props string"
    ).coalesce(1).write.parquet(path)
    with pytest.raises(Exception, match="out-of-order or duplicate"):
        stateful_rolling_zscore_available_now(
            spark, f"{path}/part-00000*.parquet", str(tmp_path / "root"),
            window=3, min_periods=2,
        ).collect()
