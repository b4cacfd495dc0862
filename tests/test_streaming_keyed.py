"""Keyed streaming state across micro-batches: the native aggregations
of streaming/windowed.py (stateful_first_seen_available_now /
stateful_user_totals_available_now / stateful_hll_available_now /
stateful_cms_available_now) and the per-micro-batch folds of
streaming/mv.py (KMV, the rolling z-score).

The oracle parity suite drains the events table in ONE micro-batch, so it
cannot see how drained rows combine across micro-batches.  Here two
parquet files arrive as two micro-batches (maxFilesPerTrigger=1); the
second holds an earlier (ts, event_id) for a key the first already
registered, and a ts tie that only event_id can break.  Dedup and user
totals must still equal the batch law over both files, and so must the
HLL registers and count-min counters that users 1-3 touch in both.  The
folds get their own files: a KMV sketch that saturates only in file 2,
and an in-order z-score series with NULL values.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_scripts_spark.operators.sketch import cms_build, hll_registers, kmv_sketch
from etl_scripts_spark.reports.anomaly import rolling_zscore
from etl_scripts_spark.sinks.commit import latest_committed_version
from etl_scripts_spark.streaming import mv, windowed

T0 = 1_700_000_000_000_000  # epoch µs

#: (event_id, ts offset s, user_id, event_type, value) per micro-batch
BATCH_1 = [
    (10, 100, 1, "click", 1.005),
    (11, 200, 1, "click", 2.0),
    (20, 50, 2, "view", 0.125),
    (30, 10, 3, "click", -1.5),
]
BATCH_2 = [
    (12, 40, 1, "click", 3.0),  # earlier than the registered first arrival
    (19, 50, 2, "view", 0.135),  # ts tie, smaller event_id wins
    (31, 10, 3, "click", -7.77),  # ts tie, larger event_id loses; sum falls
    (40, 5, 4, "view", 0.5),  # key first seen in batch 2
]


def _write(path, rows, mtime):
    table = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [T0 + r[1] * 1_000_000 for r in rows], pa.timestamp("us", tz="UTC")
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
        }
    )
    pq.write_table(table, path)
    os.utime(path, (mtime, mtime))


def _two_batch_stream(spark, tmp_path, batch_1=BATCH_1, batch_2=BATCH_2):
    events = tmp_path / "events"
    events.mkdir()
    _write(events / "events_1.parquet", batch_1, 1_000_000)
    _write(events / "events_2.parquet", batch_2, 2_000_000)
    schema = spark.read.parquet(str(events / "events_1.parquet")).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(events))
    )


def _spy_drains(monkeypatch):
    """Record every unfolded sink table the wrappers drain into."""
    drained = []
    real = windowed._drain

    def spy(*args, **kwargs):
        out = real(*args, **kwargs)
        drained.append(out)
        return out

    monkeypatch.setattr(windowed, "_drain", spy)
    return drained


def test_first_seen_folds_across_micro_batches(spark, tmp_path, monkeypatch):
    drained = _spy_drains(monkeypatch)
    got = {
        (r.user_id, r.event_type): (r.first_event_id, r.first_us, r.n_duplicates)
        for r in windowed._first_seen(spark, _two_batch_stream(spark, tmp_path))
        .withColumn("first_us", F.unix_micros("first_ts"))
        .collect()
    }
    want = {}
    for key in {(r[2], r[3]) for r in BATCH_1 + BATCH_2}:
        rows = [r for r in BATCH_1 + BATCH_2 if (r[2], r[3]) == key]
        ts, eid = min((r[1], r[0]) for r in rows)
        want[key] = (eid, T0 + ts * 1_000_000, len(rows) - 1)
    assert got == want
    assert got[(1, "click")][0] == 12 and got[(2, "view")][0] == 19
    # the premise: each key seen in both files was emitted once per
    # micro-batch, so the per-key fold is what picked the final state
    per_key = drained[0].groupBy("user_id", "event_type").count()
    assert per_key.filter(F.col("count") == 2).count() == 3


def test_user_totals_fold_across_micro_batches(spark, tmp_path, monkeypatch):
    drained = _spy_drains(monkeypatch)
    got = {
        r.user_id: (r.n_events, r.sum_cents)
        for r in windowed._user_totals(
            spark, _two_batch_stream(spark, tmp_path)
        ).collect()
    }
    want = {}
    for _, _, user, _, value in BATCH_1 + BATCH_2:
        n, cents = want.get(user, (0, 0))
        want[user] = (n + 1, cents + math.floor(value * 100.0 + 0.5))
    assert got == want
    assert drained[0].filter(F.col("user_id") == 1).count() == 2


def _both_files_as_one_batch(spark, tmp_path):
    return spark.read.parquet(str(tmp_path / "events")).select(
        "event_type", F.col("user_id").cast("string").alias("v")
    )


def test_hll_drain_equals_batch_registers(spark, tmp_path):
    """Complete mode leaves each (event_type, bucket) register once, at
    its final max — a multiset compare, so a duplicate key fails."""
    stream = _two_batch_stream(spark, tmp_path)
    got = Counter(tuple(r) for r in windowed._hll(spark, stream).collect())
    want = Counter(
        tuple(r)
        for r in hll_registers(
            _both_files_as_one_batch(spark, tmp_path), "event_type", "v",
            p=windowed._HLL_P,
        ).collect()
    )
    assert got == want


def test_cms_drain_equals_batch_counters(spark, tmp_path):
    stream = _two_batch_stream(spark, tmp_path)
    got = Counter(tuple(r) for r in windowed._count_min(spark, stream).collect())
    want = Counter(
        tuple(r)
        for r in cms_build(
            _both_files_as_one_batch(spark, tmp_path), "v",
            d=windowed._CMS_D, w=windowed._CMS_W,
        ).collect()
    )
    assert got == want


def test_kmv_folds_across_micro_batches(spark, tmp_path):
    """File 1 leaves the "click" sketch unsaturated (20 < k digests); file
    2 saturates it, so the committed bottom-k must be the union of both
    files' digests cut back to k — equal to the batch sketch over both."""
    batch_1 = [(u, u, u, "click", 0.0) for u in range(1, 21)]
    batch_2 = [(100 + u, u, u, "click", 0.0) for u in range(10, 51)]
    batch_2 += [(200 + u, u, u, "view", 0.0) for u in range(1, 6)]
    root = str(tmp_path / "root")
    got = {
        r.event_type: (r.sketch_n, r.est_distinct)
        for r in mv._kmv(spark, _two_batch_stream(spark, tmp_path, batch_1, batch_2), root)
        .collect()
    }
    k = mv._KMV_K
    want = {}
    for r in kmv_sketch(_both_files_as_one_batch(spark, tmp_path), "event_type", "v", k).collect():
        est = (
            float(r.sketch_n)
            if r.sketch_n < k
            else round(float(k - 1) * (1 << 48) / int(r.kth_hash[:12], 16), 4)
        )
        want[r.event_type] = (r.sketch_n, est)
    assert got == want
    assert got["click"][0] == k and got["view"] == (5, 5.0)
    assert latest_committed_version(root) == 2  # one fold per file


def _cents_rows(df):
    return df.select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
    )


def test_rolling_zscore_folds_across_micro_batches(spark, tmp_path):
    """An in-order pair of files: file 2's rows are scored against frames
    that reach back into file 1 (window 3), NULL values included, and the
    fold equals the batch law over both files row for row."""
    values_1 = [1.0, None, 3.0, 10.0, 2.5]
    values_2 = [4.0, None, 7.25, 1.0, 0.5, 9.0]
    batch_1 = [(i, 10 * i, u, "t", v) for u in (1, 2) for i, v in enumerate(values_1)]
    batch_2 = [(50 + i, 100 + i, u, "t", v) for u in (1, 3) for i, v in enumerate(values_2)]
    stream = _two_batch_stream(spark, tmp_path, batch_1, batch_2)
    root = str(tmp_path / "root")
    cols = ["user_id", "ts_us", "v", "roll_n", "z", "is_anomaly"]
    got = sorted(
        tuple(r[c] for c in cols)
        for r in mv._rolling_zscore(spark, stream, root, window=3, min_periods=2).collect()
    )
    both = _cents_rows(spark.read.parquet(str(tmp_path / "events")))
    want = sorted(
        tuple(r[c] for c in cols)
        for r in rolling_zscore(both, "user_id", "ts_us", "v", window=3, min_periods=2)
        .collect()
    )
    assert got == want and len(got) == len(batch_1) + len(batch_2)
    assert latest_committed_version(root) == 2
    # the premise: user 1's first file-2 rows are scored from file-1 rows
    first_2 = [r for r in got if r[0] == 1 and r[1] == T0 + 100 * 1_000_000]
    assert first_2[0][3] == 3 and first_2[0][4] is not None


def test_rolling_zscore_raises_on_an_earlier_timestamp_in_a_later_batch(spark, tmp_path):
    """File 2 holds an earlier timestamp for users 1 and 3 of file 1: the
    carried rows would follow it, so the fold raises instead of scoring
    against the wrong frame."""
    stream = _two_batch_stream(spark, tmp_path)
    with pytest.raises(Exception, match="out-of-order or duplicate"):
        mv._rolling_zscore(spark, stream, str(tmp_path / "root"), window=3, min_periods=2)


def test_fold_batch_replay_mints_no_version(spark, tmp_path):
    root = str(tmp_path / "root")
    batch = spark.createDataFrame([("a", "x")], "event_type string, _h string")
    empty = batch.limit(0)

    def step(state, b):
        return state.unionByName(b).distinct()

    assert mv.fold_batch(batch, 0, root, step, empty) is True
    assert mv.fold_batch(batch, 0, root, step, empty) is False
    assert latest_committed_version(root) == 1
    assert mv.fold_batch(batch, 1, root, step, empty) is True
    assert latest_committed_version(root) == 2
