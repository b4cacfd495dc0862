"""Streaming state as a batch operator folded per micro-batch.

State that Spark has no streaming aggregate for is a committed table
here: `foreachBatch` folds every micro-batch into it with the batch
operator itself and publishes the new state through the CAS manifest
(`sinks/commit.try_publish_version`).  :func:`fold_batch` serves three
folds: the materialized-view rollup (`sinks/materialized.refresh_rollup`
over a change feed with `_change_type` — the reference's dropbox daemons
re-derive summary state on every batch arrival, `register-all.py`), KMV
(`sketch.bottom_k_hashes` over state ∪ batch digests: a mergeable
summary) and the rolling z-score (`reports/anomaly.rolling_zscore` over
the batch's rows ∪ each key's last `window` carried rows).

Exactly-once without trusting the sink: Structured Streaming replays a
micro-batch after a crash, and a replayed delta applied twice DOUBLES
the rollup — the classic foreachBatch trap.  The applied `batch_id`
rides inside the committed manifest (`extra={"batch_id": ...}`), so the
idempotence check ("was this batch already folded in?") and the data
pointer are one atomic unit: a replayed batch sees its own id at (or
below) the latest manifest and skips; a crash BEFORE publish left no
effect to double.  This is the Delta `txn`/`idempotent writes` pattern
on the repo's manifest chain.

Feed files must arrive in causal order: Spark's file source orders
batches by modification time, and the folds are sequential (a delete
follows its insert; an event follows its key's earlier events).  Files
copied in with skewed mtimes (rsync -t, clock jumps) make the fold fail
LOUDLY (the rollup's negative-count raise, the z-score's out-of-order
raise) — the stream wedges rather than commits a wrong table, and
re-landing the files in order fixes it (the already-applied prefix
no-ops via the batch watermark).

One checkpoint per table lifetime: batch ids are per-checkpoint, so a
FRESH checkpoint over the same feed directory replays every file from
batch 0 — the watermark check correctly skips those replays, which also
means a genuinely new stream must start against a fresh table root (or
the old ids shadow its first batches).  The same rule Delta's `txn`
appId/version pair imposes.

Scale: each micro-batch pays O(|state| + |batch|), and the state is
bounded by the keys (the rollup's groups, k digests per KMV group,
`window` rows per z-score key), never by the stream volume.  A backlog
drains (Trigger.AvailableNow, maxFilesPerTrigger where the caller sets
it) as serialized folds, each CAS-published — the fold owns its table,
so a CAS loss raises (a foreign writer is a deployment bug, not a
retryable race).
"""

from __future__ import annotations

import functools
import os
import uuid
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import literal_table
from ..expressions import cents
from ..operators.sketch import bottom_k_hashes, kmv_estimate
from ..reports.anomaly import rolling_zscore
from ..sinks.commit import (
    latest_committed_version,
    read_version,
    try_publish_version,
    version_record,
)
from ..sinks.files import staged_write
from ..sinks.materialized import refresh_rollup, rollup_table
from .windowed import _events_stream

Step = Callable[[DataFrame, DataFrame], DataFrame]


def fold_batch(
    batch: DataFrame, batch_id: int, root: str, step: Step, empty: DataFrame
) -> bool:
    """Fold one micro-batch into the committed state at `root`: write
    `step(state, batch)` as the next version, where `state` is the latest
    committed version (`empty` before the first); returns False when the
    batch id was already applied (replay).

    Usable directly as the foreachBatch body, and directly testable —
    crash-replay is just calling it twice with the same id.
    """
    v = latest_committed_version(root)
    if v > 0 and version_record(root, v).get("batch_id", -1) >= batch_id:
        return False  # replayed batch: its effect is already committed
    state = read_version(batch.sparkSession, root, v) if v > 0 else empty
    dest = os.path.join(root, "data", f"v{v + 1}-{uuid.uuid4().hex}")
    staged_write(step(state, batch), dest)
    if not try_publish_version(
        root, v + 1, dest, base=v, extra={"batch_id": batch_id}
    ):
        raise RuntimeError(
            f"stream fold lost CAS on {root} v{v + 1}: a foreign "
            "writer is committing to a stream-maintained table"
        )
    return True


def fold_available_now(
    stream: DataFrame, root: str, checkpoint_dir: str, step: Step, empty: DataFrame
) -> DataFrame:
    """Drain every micro-batch currently available on `stream` through
    :func:`fold_batch`, then return the committed state (`empty` when
    nothing was ever committed)."""
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, batch_id: fold_batch(batch, batch_id, root, step, empty)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    committed = read_version(stream.sparkSession, root)
    return empty if committed is None else committed


# --- materialized-view rollup ----------------------------------------------


def _rollup_step(group_keys: list[str], sum_cols: list[str]) -> Step:
    return lambda state, batch: refresh_rollup(state, batch, group_keys, sum_cols)


def apply_feed_batch(
    batch: DataFrame,
    batch_id: int,
    root: str,
    group_keys: list[str],
    sum_cols: list[str],
) -> bool:
    """Fold one micro-batch of feed rows into the committed rollup at
    `root`; returns False when the batch id was already applied (replay)."""
    empty = rollup_table(batch.drop("_change_type").limit(0), group_keys, sum_cols)
    return fold_batch(batch, batch_id, root, _rollup_step(group_keys, sum_cols), empty)


def rollup_maintenance_available_now(
    spark: SparkSession,
    feed_path: str,
    feed_schema: T.StructType | str,
    root: str,
    group_keys: list[str],
    sum_cols: list[str],
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> DataFrame:
    """Drain every feed file currently in `feed_path` into the committed
    rollup at `root` (one refresh per `max_files_per_trigger` files),
    then return the resulting rollup DataFrame — the (empty) rollup shape
    when no feed file was ever drained."""
    feed = (
        spark.readStream.schema(feed_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(feed_path)
    )
    empty = rollup_table(
        literal_table(spark, [], feed.schema).drop("_change_type"), group_keys, sum_cols
    )
    return fold_available_now(
        feed, root, checkpoint_dir, _rollup_step(group_keys, sum_cols), empty
    )


# --- KMV distinct sketch ---------------------------------------------------

_KMV_K = 32


def _kmv(spark: SparkSession, stream: DataFrame, root: str) -> DataFrame:
    """Per-event-type bottom-k of md5(user_id) over any events stream,
    folded per micro-batch.  Returns (event_type, sketch_n, est_distinct),
    the estimate by :func:`..operators.sketch.kmv_estimate`."""
    digests = stream.filter(F.col("user_id").isNotNull()).select(
        "event_type", F.md5(F.col("user_id").cast("string")).alias("_h")
    )
    def step(state: DataFrame, batch: DataFrame) -> DataFrame:
        return bottom_k_hashes(state.unionByName(batch).distinct(), "event_type", _KMV_K)

    checkpoint = os.path.join(root, "_checkpoint")
    empty = literal_table(spark, [], digests.schema)
    bottom = fold_available_now(digests, root, checkpoint, step, empty)
    sketch = bottom.groupBy("event_type").agg(
        F.max("_h").alias("kth_hash"), F.count("*").alias("sketch_n")
    )
    return sketch.select(
        "event_type", "sketch_n", kmv_estimate(_KMV_K).alias("est_distinct")
    )


def stateful_kmv_available_now(
    spark: SparkSession, events_parquet: str, root: str
) -> DataFrame:
    """Streaming KMV sketch maintenance into the committed table at
    `root` (k digests per event type, whatever the stream volume).  After
    the AvailableNow drain the sketch equals the batch KMV over all
    events, which is what the oracle checks."""
    return _kmv(spark, _events_stream(spark, events_parquet), root)


# --- rolling z-score -------------------------------------------------------


def _rz_step(window: int, min_periods: int, z_thresh: float) -> Step:
    """Score the batch's rows with the batch operator over (carried rows
    ∪ batch); keep the batch's rows (flagged `_new`) and each key's last
    `window` rows, which the next batch's frames reach back into."""

    def step(state: DataFrame, batch: DataFrame) -> DataFrame:
        rows = state.select(
            "user_id", "ts_us", "v", F.lit(False).alias("_new")
        ).unionByName(batch.select("user_id", "ts_us", "v", F.lit(True).alias("_new")))
        # the operator's own window spec: the guard and the row counts
        # ride its exchange and sort
        ob = Window.partitionBy("user_id").orderBy("ts_us")
        late = ~F.col("_new") & F.lag("_new").over(ob)
        peers = F.count(F.lit(1)).over(ob.rangeBetween(0, 0))
        guard = F.when(
            late | (peers > 1),
            F.raise_error(
                F.concat(
                    F.lit("stateful_rolling_zscore: out-of-order or duplicate timestamp "),
                    F.col("ts_us").cast("string"),
                    F.lit(" for key "),
                    F.col("user_id").cast("string"),
                )
            ),
        )
        # the guard rides `v`, which the operator's window aggregates read,
        # so it fires on every row before the operator's own dup guard
        guarded = rows.select(
            "user_id",
            "ts_us",
            F.coalesce(guard.cast("bigint"), F.col("v")).alias("v"),
            "_new",
            F.row_number().over(ob).alias("_rn"),
            F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("_cnt"),
        )
        scored = rolling_zscore(
            guarded, "user_id", "ts_us", "v", window, min_periods, z_thresh
        )
        new = F.col("_new")
        return scored.filter(new | (F.col("_cnt") - F.col("_rn") < window)).select(
            "user_id",
            "ts_us",
            "v",
            *(F.when(new, F.col(c)).alias(c) for c in ("roll_n", "z", "is_anomaly")),
            "_new",
        )

    return step


def _rolling_zscore(
    spark: SparkSession,
    stream: DataFrame,
    root: str,
    window: int = 20,
    min_periods: int = 5,
    z_thresh: float = 3.0,
) -> DataFrame:
    """reports/anomaly.rolling_zscore of per-user value-cents folded over
    any events stream: the `_new` rows of every committed version."""
    rows = stream.filter(F.col("user_id").isNotNull()).select(
        "user_id", F.unix_micros(F.col("ts")).alias("ts_us"), cents(F.col("value")).alias("v")
    )
    step = _rz_step(window, min_periods, z_thresh)
    empty = literal_table(spark, [], rows.schema)
    fold_available_now(rows, root, os.path.join(root, "_checkpoint"), step, empty)
    versions = [
        read_version(spark, root, v)
        for v in range(1, latest_committed_version(root) + 1)
    ]
    # step(empty, empty): the committed schema with no rows, which the
    # optimizer drops from the union
    scored = functools.reduce(DataFrame.unionByName, versions, step(empty, empty))
    return scored.filter(F.col("_new")).drop("_new")


def stateful_rolling_zscore_available_now(
    spark: SparkSession,
    events_parquet: str,
    root: str,
    window: int = 20,
    min_periods: int = 5,
    z_thresh: float = 3.0,
) -> DataFrame:
    """Streaming anomaly alerts: per-user value-cents
    (:func:`..expressions.cents`) scored against the user's
    trailing `window` observations; after an AvailableNow drain the rows
    equal the batch operator over the same events row-for-row (the
    oracle).  Events must arrive in per-key timestamp order across
    micro-batches — a regression or a duplicate timestamp raises rather
    than scoring against the wrong frame."""
    return _rolling_zscore(
        spark, _events_stream(spark, events_parquet), root, window, min_periods, z_thresh
    )
