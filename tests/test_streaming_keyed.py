"""Keyed streaming state as native aggregations (streaming/windowed.py
stateful_first_seen_available_now / stateful_user_totals_available_now /
stateful_hll_available_now / stateful_cms_available_now).

The oracle parity suite drains the events table in ONE micro-batch, so it
cannot see how drained rows combine across micro-batches.  Here two
parquet files arrive as two micro-batches (maxFilesPerTrigger=1); the
second holds an earlier (ts, event_id) for a key the first already
registered, and a ts tie that only event_id can break.  Dedup and user
totals must still equal the batch law over both files, and so must the
HLL registers and count-min counters that users 1-3 touch in both.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from etl_scripts_spark.operators.sketch import cms_build, hll_registers
from etl_scripts_spark.streaming import windowed

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


def _two_batch_stream(spark, tmp_path):
    _write(tmp_path / "events_1.parquet", BATCH_1, 1_000_000)
    _write(tmp_path / "events_2.parquet", BATCH_2, 2_000_000)
    schema = spark.read.parquet(str(tmp_path / "events_1.parquet")).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(tmp_path))
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
        for r in windowed._first_seen(spark, _two_batch_stream(spark, tmp_path), 8)
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
            spark, _two_batch_stream(spark, tmp_path), 8
        ).collect()
    }
    want = {}
    for _, _, user, _, value in BATCH_1 + BATCH_2:
        n, cents = want.get(user, (0, 0))
        want[user] = (n + 1, cents + math.floor(value * 100.0 + 0.5))
    assert got == want
    assert drained[0].filter(F.col("user_id") == 1).count() == 2


def _both_files_as_one_batch(spark, tmp_path):
    return spark.read.parquet(str(tmp_path)).select(
        "event_type", F.col("user_id").cast("string").alias("v")
    )


def test_hll_drain_equals_batch_registers(spark, tmp_path):
    """Complete mode leaves each (event_type, bucket) register once, at
    its final max — a multiset compare, so a duplicate key fails."""
    stream = _two_batch_stream(spark, tmp_path)
    got = Counter(tuple(r) for r in windowed._hll(spark, stream, 8).collect())
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
