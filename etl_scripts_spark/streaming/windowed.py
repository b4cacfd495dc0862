"""Structured Streaming wrappers — the reference's dropbox trigger semantics.

The reference's operational loop (file arrival + marker-file completeness
gate → process once — SURVEY §2.8) maps to a file-source stream with
`Trigger.AvailableNow`: process everything currently available, exactly once,
then stop.  Where a batch operator exists, the drain runs THAT operator on
the stream, never a copy of it: the tumbling and hopping rollups of
:mod:`..operators.windows` (on a watermarked stream) and the HyperLogLog
and count-min sketches of :mod:`..operators.sketch` (a register is a max,
a counter a count), so batch and streaming agree by construction.

Every operator here is a native stateful operator — windowed, session and
keyed aggregations, the interval join and the sketches — whose state
stays in the JVM's state store.  Keyed state with no built-in aggregate
(the KMV bottom-k, the rolling z-score's trailing frame) is a batch
operator folded per micro-batch on the CAS manifest: :mod:`.mv`.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..expressions import cents
from ..operators.sketch import cms_build, hll_registers
from ..operators.windows import hopping_rollup, hourly_rollup

_name_counter = itertools.count()


def _events_stream(spark: SparkSession, events_parquet: str) -> DataFrame:
    """Shared file-source plumbing for every wrapper here: nanos conf,
    schema from the file's footer (no Spark job; Spark infers only when
    the footer reader declines), sibling glob (the file-stream source
    wants a directory or glob, not a bare file path), normalized ts.
    ONE copy — a fix to the glob derivation or the conf handling must
    not be re-applied per wrapper."""
    from ..catalog import _footer_schema, normalize_events

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = (_footer_schema(spark, events_parquet)
              or spark.read.parquet(events_parquet).schema)
    glob_path = events_parquet.rsplit(".", 1)[0] + ".*"
    return normalize_events(spark.readStream.schema(schema).parquet(glob_path))


def _drain(spark: SparkSession, out: DataFrame, mode: str = "complete") -> DataFrame:
    """Shared AvailableNow → memory-sink drain over min(8, configured)
    state shards."""
    name = f"etl_stream_out_{next(_name_counter)}"
    conf = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf)
    # the state shard count is fixed at query start and AQE cannot coalesce
    # it; the local[32] sweep (OPTIMIZATION_r14 §3) measured 8 shards best
    spark.conf.set(conf, str(min(8, int(old))))
    try:
        query = (
            out.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    finally:
        spark.conf.set(conf, old)
    return spark.table(name)


def session_windows_available_now(
    spark: SparkSession,
    events_parquet: str,
    gap_minutes: int = 30,
) -> DataFrame:
    """Streaming gap-based sessionization via the native session_window
    operator (merging keyed session state, watermark-driven eviction),
    drained with Trigger.AvailableNow.

    Returns (user_id, session_start, n_events, span_us).  span is computed
    in microseconds from the window bounds (end = last event + gap, so
    span = end - start - gap) — full precision, no truncate-then-diff
    mismatch with the oracle.  Complete output mode (session windows
    support append/complete only): one AvailableNow drain emits every
    session's final state, which the batch gap-sessionization oracle
    verifies.  A production continuous run would use append mode, where
    the watermark finalizes (and evicts) closed sessions incrementally.
    """
    stream = _events_stream(spark, events_parquet)
    gap = f"{gap_minutes} minutes"
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"))
    )
    gap_us = gap_minutes * 60 * 1_000_000
    return _drain(spark, agg).select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "n_events",
        (
            F.unix_micros(F.col("session_window.end"))
            - F.unix_micros(F.col("session_window.start"))
            - F.lit(gap_us)
        ).alias("span_us"),
    )


def hourly_counts_available_now(spark: SparkSession, events_parquet: str) -> DataFrame:
    """Streaming tumbling-hour rollup over a parquet path, drained to a batch
    result via Trigger.AvailableNow + memory sink: the batch
    :func:`..operators.windows.hourly_rollup` run on the stream
    watermarked on ts, with hour_start formatted 'yyyy-MM-dd HH'.
    Aggregation state is keyed by (hour-window × event_type) — a few
    thousand keys, whatever the event volume.
    """
    stream = _events_stream(spark, events_parquet)
    agg = hourly_rollup(stream.withWatermark("ts", "1 hour"))
    return _drain(spark, agg).select(
        F.date_format(F.col("hour_start"), "yyyy-MM-dd HH").alias("hour_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


def enriched_counts_available_now(
    spark: SparkSession,
    events_parquet: str,
    dim: DataFrame,
    dim_key: str,
    group_col: str,
) -> DataFrame:
    """Stream-static enrichment join + windowed rollup — THE standard
    streaming-dimension pattern: the event stream joins a static (slowly-
    changing) dimension, then aggregates per (dimension attribute × hour).

    Scale shape: the static side broadcasts (re-resolved per micro-batch,
    so a dim refresh between batches is picked up); the stream side never
    shuffles until the windowed aggregate, whose state is keyed by
    (attribute × hour) — a tiny keyspace, whatever the event volume.
    Events missing from the dimension are kept
    (left join, attribute NULL→'UNKNOWN') — dropping them would silently
    under-count, the streaming analogue of the keep-flowing contract.
    """
    stream = _events_stream(spark, events_parquet)
    enriched = stream.join(
        F.broadcast(dim), stream["user_id"] == dim[dim_key], "left"
    ).withColumn("_grp", F.coalesce(F.col(group_col), F.lit("UNKNOWN")))
    agg = (
        enriched.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), F.col("_grp"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )
    return _drain(spark, agg).select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH").alias("hour_start"),
        F.col("_grp").alias("group_key"),
        "n_events",
        "sum_value",
    )


def interval_join_available_now(
    spark: SparkSession,
    events_parquet: str,
    left_type: str = "purchase",
    right_type: str = "click",
    window_hours: int = 6,
) -> DataFrame:
    """STREAM-STREAM interval join: each left-type event joins the same
    user's right-type events from the preceding `window_hours` — the
    attribution-window pattern (purchase ← clicks that led to it).

    Both sides are genuine streams (two file-source readers over the same
    path), so Spark buffers each side in join state and the time-range
    condition plus watermarks bound that state: right-side rows older
    than the window beyond the watermark are evicted, left rows evict at
    the watermark itself.  Without the time bound the state would grow
    unboundedly — the condition IS the scale story.  Inner interval joins
    support append mode, which a single AvailableNow drain flushes
    completely, so the result equals the batch interval join the oracle
    runs.

    Returns (left_id, right_id, lag_s): lag in whole seconds (micros
    diff // 1e6, exact integer arithmetic in both engines).
    """
    def _stream():
        return _events_stream(spark, events_parquet)

    left = (
        _stream()
        .filter(F.col("event_type") == left_type)
        .select(
            F.col("event_id").alias("left_id"),
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", "1 hour")
    )
    right = (
        _stream()
        .filter(F.col("event_type") == right_type)
        .select(
            F.col("event_id").alias("right_id"),
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", f"{window_hours + 1} hours")
    )
    joined = left.join(
        right,
        F.expr(
            f"l_user = r_user AND r_ts BETWEEN l_ts - INTERVAL {window_hours} HOURS AND l_ts"
        ),
        "inner",
    )
    out = joined.select(
        "left_id",
        "right_id",
        (
            (F.unix_micros(F.col("l_ts")) - F.unix_micros(F.col("r_ts")))
            / F.lit(1_000_000)
        ).cast("bigint").alias("lag_s"),
    )
    return _drain(spark, out, mode="append")


def hopping_counts_available_now(
    spark: SparkSession,
    events_parquet: str,
    width_s: int = 3600,
    slide_s: int = 900,
) -> DataFrame:
    """Streaming HOPPING-window rollup drained to a batch result: the
    batch :func:`..operators.windows.hopping_rollup` run on the stream
    watermarked `width_s` behind (state keyed by overlapping-window ×
    event_type; an event updates width/slide window states as it
    arrives), so an AvailableNow drain over the same files equals the
    batch operator row-for-row — the verification law every streaming op
    here follows.  Returns (window_start_us, window_end_us, event_type,
    n_events, value_cents); hopping_rollup's width/slide guard applies.
    """
    stream = _events_stream(spark, events_parquet)
    agg = hopping_rollup(
        stream.withWatermark("ts", f"{width_s} seconds"),
        width_s,
        slide_s,
        key_col="event_type",
        value_col="value",
    )
    return _drain(spark, agg)


def _first_seen(spark: SparkSession, stream: DataFrame) -> DataFrame:
    """Keyed first-seen state over any events stream: per (user_id,
    event_type) the min of struct(ts, event_id) — the (ts, event_id)
    lexicographic first arrival, stable under any micro-batch arrival
    order — and the arrival count.  Update mode emits each touched key's
    running state once per micro-batch; folding the drained rows per key
    (min of first, max of n) leaves the final state."""
    agg = stream.groupBy("user_id", "event_type").agg(
        F.min(F.struct("ts", "event_id")).alias("first"),
        F.count("*").alias("n"),
    )
    return (
        _drain(spark, agg, mode="update")
        .groupBy("user_id", "event_type")
        .agg(F.min("first").alias("first"), F.max("n").alias("n"))
        .select(
            "user_id",
            "event_type",
            F.col("first.event_id").alias("first_event_id"),
            F.col("first.ts").alias("first_ts"),
            (F.col("n") - 1).alias("n_duplicates"),
        )
    )


def stateful_first_seen_available_now(
    spark: SparkSession, events_parquet: str
) -> DataFrame:
    """Dedup-on-ingest as keyed streaming state: the reference's "already
    registered → log & drop" semantics (SURVEY §2.8) keyed by (user_id,
    event_type), keeping the first arrival and counting dropped
    duplicates.  The state is a min and a count — a native streaming
    aggregation, so it never leaves the JVM.  The state store IS the
    registered-set; a restart resumes from the checkpoint instead of
    re-registering."""
    return _first_seen(spark, _events_stream(spark, events_parquet))


def _user_totals(spark: SparkSession, stream: DataFrame) -> DataFrame:
    """Per-user running (count, value-cents) over any events stream, cents
    by :func:`..expressions.cents`.  Both totals only grow, so the
    drained update rows fold per key by max."""
    agg = stream.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(cents(F.col("value"))).alias("sum_cents"),
    )
    return (
        _drain(spark, agg, mode="update")
        .groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max_by("sum_cents", "n_events").alias("sum_cents"),
        )
    )


def stateful_user_totals_available_now(
    spark: SparkSession, events_parquet: str
) -> DataFrame:
    """Per-user running totals as keyed streaming state, drained to a
    batch result — the final state equals the batch groupBy, which is
    what the oracle checks."""
    return _user_totals(spark, _events_stream(spark, events_parquet))


#: streaming HLL precision: m=1024 registers per event type
_HLL_P = 10
#: streaming count-min shape: d salted rows × w counters
_CMS_D = 4
_CMS_W = 256


def _hll(spark: SparkSession, stream: DataFrame) -> DataFrame:
    """sketch.hll_registers over any events stream, drained in complete
    mode: a register is max(rho) per (event_type, bucket), so the state
    store holds the register table itself and the sink holds its final
    value — the batch operator, run incrementally."""
    regs = hll_registers(
        stream.select("event_type", F.col("user_id").cast("string").alias("v")),
        "event_type",
        "v",
        p=_HLL_P,
    )
    return _drain(spark, regs)


def stateful_hll_available_now(spark: SparkSession, events_parquet: str) -> DataFrame:
    """Streaming HyperLogLog maintenance: per-event-type registers kept
    in the state store (≤ 2^p keys per type, whatever the stream volume).
    The drain equals the batch register table over all events
    row-for-row — (event_type, bucket, register), absent buckets implicit
    — so hll_estimate composes unchanged."""
    return _hll(spark, _events_stream(spark, events_parquet))


def _count_min(spark: SparkSession, stream: DataFrame) -> DataFrame:
    """sketch.cms_build over any events stream's non-null user_ids,
    drained in complete mode: a counter is count(*) per (r, b), so the
    state store holds the d×w counter matrix itself."""
    cms = cms_build(
        stream.filter(F.col("user_id").isNotNull()).select(
            F.col("user_id").cast("string").alias("v")
        ),
        "v",
        d=_CMS_D,
        w=_CMS_W,
    )
    return _drain(spark, cms)


def stateful_cms_available_now(
    spark: SparkSession, events_parquet: str
) -> DataFrame:
    """Streaming count-min sketch maintenance: the counter matrix lives in
    the state store and every micro-batch adds its hits.  The drain equals
    the batch cms_build over all events row-for-row — (r, b, cnt), zero
    counters absent — so cms_estimate / heavy-hitter probes compose
    unchanged."""
    return _count_min(spark, _events_stream(spark, events_parquet))
