"""Custom stateful streaming operators via applyInPandasWithState.

The reference has no streaming engine, but its per-entity bookkeeping
(RETRY_COUNT persistent map, register-fastq-dropbox.py:48-56; session-scoped
used-identifier sets, register-nanopore.py:62-65) is exactly keyed mutable
state over an event stream.  Re-expressed Spark-first: the state lives in the
state store (checkpointed, partitioned by key, survives restarts), and
`Trigger.AvailableNow` drains whatever is on disk exactly once — the
dropbox semantics.

The rule: Python state only where Spark has no aggregate for it.  Keyed
state that IS a built-in aggregate (dedup-on-ingest's min + count,
per-user count + sum, HyperLogLog's per-bucket max, count-min's
per-counter count) runs as a native streaming aggregation in
:mod:`.windowed` and never leaves the JVM.  What stays here has no
bounded exact Spark aggregate — KMV keeps the k smallest distinct
hashes, the rolling z-score a ring buffer of the last `window` values —
so its updates cross into Python, Arrow-batched per group.

At 100 TB the state store shards with the shuffle partitioning of the group
key; no driver-side maps, no collect.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .tuning import PY_STATE_KEYS_PER_SHARD
from .windowed import _drain, _events_stream


def _drain_events(spark: SparkSession, events_parquet: str, build, approx_keys: int) -> DataFrame:
    """Shared AvailableNow drain for the Python-state operators: let
    `build(stream)` attach the stateful transformation to the events
    stream and drain it through :func:`.windowed._drain` in update mode —
    sharded to the PyState law, since every key costs a Python crossing
    (see :mod:`.tuning`)."""
    out = build(_events_stream(spark, events_parquet))
    return _drain(
        spark, out, approx_keys, mode="update", keys_per_shard=PY_STATE_KEYS_PER_SHARD
    )


KMV_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("sketch_n", T.LongType()),
        T.StructField("kth_hash", T.StringType()),
    ]
)

_KMV_STATE = T.StructType([T.StructField("hashes", T.StringType())])

_KMV_K = 32


def _kmv_fn(key: Tuple[Any, ...], pdfs: Iterator, state: GroupState) -> Iterator:
    """Merge each micro-batch's md5(user_id) digests into the bottom-k
    state (union → keep the k smallest: the algebraic KMV merge), emit the
    current (sketch_n, kth)."""
    import hashlib

    import pandas as pd

    hashes = set(state.get[0].split(",")) if state.exists and state.get[0] else set()
    for pdf in pdfs:
        # dedupe BEFORE hashing: md5 cost scales with user cardinality,
        # not event volume
        for u in pdf["user_id"].unique():
            hashes.add(hashlib.md5(str(int(u)).encode()).hexdigest())
    bottom = sorted(hashes)[:_KMV_K]
    state.update((",".join(bottom),))
    yield pd.DataFrame(
        {"event_type": [key[0]], "sketch_n": [len(bottom)], "kth_hash": [bottom[-1]]}
    )


def stateful_kmv_available_now(
    spark: SparkSession, events_parquet: str, approx_keys: int = 8
) -> DataFrame:
    """Streaming KMV sketch maintenance: the per-event-type distinct-user
    sketch lives IN the state store and each micro-batch merges its digests
    in (bounded state: k hashes per key, regardless of stream volume) —
    the standing-index story of operators/sketch.py run live.  After the
    AvailableNow drain, the final state equals the batch KMV over all
    events, which is what the oracle checks.  Returns
    (event_type, sketch_n, est_distinct): est = sketch_n when the sketch
    is lossless (< k distinct), else (k-1)/u_k.
    """

    def build(stream):
        return (
            stream.filter(F.col("user_id").isNotNull())
            .select("event_type", "user_id")
            .groupBy("event_type")
            .applyInPandasWithState(
                _kmv_fn,
                outputStructType=KMV_SCHEMA,
                stateStructType=_KMV_STATE,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

    out = _drain_events(spark, events_parquet, build, approx_keys)
    return _kmv_finalize(out)


def _kmv_finalize(out: DataFrame) -> DataFrame:
    """Reduce the per-micro-batch KMV emissions to the final estimate.

    The LAST state per key is the emission with max sketch_n, then (once
    saturated) min kth.  NB min(kth) alone would be wrong: while the sketch
    is UNSATURATED, kth is the max of the growing set, so an early emission
    can hold a SMALLER kth than the final saturated state — the struct-max
    on (sketch_n, -kth48) gets both phases right.
    """
    row48 = F.conv(F.substring("kth_hash", 1, 12), 16, 10).cast("bigint")
    final = (
        out.select("event_type", "sketch_n", row48.alias("_k48"))
        .groupBy("event_type")
        .agg(
            F.max(
                F.struct(F.col("sketch_n"), (-F.col("_k48")).alias("_nk"))
            ).alias("_s")
        )
        .select(
            "event_type",
            F.col("_s.sketch_n").alias("sketch_n"),
            (-F.col("_s._nk")).alias("_k48"),
        )
    )
    est = F.when(
        F.col("sketch_n") < _KMV_K, F.col("sketch_n").cast("double")
    ).otherwise(
        F.round(F.lit(float(_KMV_K - 1) * (1 << 48)) / F.col("_k48"), 4)
    )
    return final.select("event_type", "sketch_n", est.alias("est_distinct"))


# --- streaming rolling z-score anomaly detection ---------------------------

#: the stateful stage emits z RAW (unrounded): the 9-dp round and the
#: threshold test happen as Catalyst projections AFTER the stage, so
#: batch and streaming share Spark's own round() implementation by
#: construction.  (A Python-side round cannot be trusted to tie-break
#: identically: Spark rounds via BigDecimal(Double.toString(d)) and
#: JDK < 19 Double.toString is not shortest-repr — JDK-4511638 — so a
#: Decimal(repr(x)) shim drifts from the JVM exactly on 9-dp half ties.)
RZ_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts_us", T.LongType()),
        T.StructField("v", T.LongType()),
        T.StructField("roll_n", T.LongType()),
        T.StructField("z_raw", T.DoubleType()),
    ]
)

_RZ_STATE = T.StructType(
    [T.StructField("last_ts", T.LongType()), T.StructField("buf", T.StringType())]
)


def _make_rz_fn(window: int, min_periods: int):
    def _rz_fn(key: Tuple[Any, ...], pdfs: Iterator, state: GroupState) -> Iterator:
        """Per-key ring buffer of the last `window` observations (CSV in
        the state store — bounded regardless of stream volume; '' encodes
        a NULL value so the ROWS-frame law stays physical-row-based like
        the batch operator).  Each event is emitted exactly once, in its
        arrival batch, scored against the buffer BEFORE its own value
        enters it (the batch op's self-mask exclusion).  Out-of-order or
        duplicate timestamps raise loudly — the batch law's frame would
        differ, so silently accepting them would silently change the
        semantics, exactly like reports/anomaly.rolling_zscore's dup
        guard."""
        import math

        import pandas as pd

        if state.exists:
            last_ts, csv = state.get
            buf = [None if t == "" else int(t) for t in csv.split("|")] if csv else []
        else:
            last_ts, buf = None, []
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("ts_us")
        out = {c: [] for c in ("ts_us", "v", "roll_n", "z_raw")}
        for ts_us, v in zip(rows["ts_us"], rows["v"]):
            ts_us = int(ts_us)
            if last_ts is not None and ts_us <= last_ts:
                raise ValueError(
                    "stateful_rolling_zscore: out-of-order or duplicate "
                    f"timestamp {ts_us} after {last_ts} for key {key[0]}"
                )
            last_ts = ts_us
            x = None if pd.isna(v) else int(v)
            vals = [b for b in buf if b is not None]
            n = len(vals)
            z = None
            if x is not None and n >= min_periods:
                s1 = sum(vals)
                s2 = sum(b * b for b in vals)
                # the batch operator's canonical expression, verbatim:
                # exact integer sums, float only in the final divisions
                var = (float(s2) - float(s1) * float(s1) / float(n)) / (
                    float(n) - 1
                )
                if var > 0:
                    # identical IEEE ops in the batch operator's order;
                    # int->float conversions round-to-nearest like Spark's
                    # decimal(38,0)->double casts
                    z = (float(x) - float(s1) / float(n)) / math.sqrt(var)
            out["ts_us"].append(ts_us)
            out["v"].append(x)
            out["roll_n"].append(n)
            out["z_raw"].append(z)
            buf.append(x)
            if len(buf) > window:
                buf.pop(0)
        state.update(
            (last_ts, "|".join("" if b is None else str(b) for b in buf))
        )
        pdf = pd.DataFrame(out)
        pdf.insert(0, "user_id", int(key[0]))
        yield pdf

    return _rz_fn


def stateful_rolling_zscore_available_now(
    spark: SparkSession,
    events_parquet: str,
    window: int = 20,
    min_periods: int = 5,
    z_thresh: float = 3.0,
    approx_keys: int = 200,
) -> DataFrame:
    """Streaming anomaly alerts: reports/anomaly.rolling_zscore run LIVE —
    per-user value-cents scored against the user's trailing `window`
    observations held in the state store; after an AvailableNow drain the
    emitted rows equal the batch operator over the same events
    row-for-row (the oracle).  Cents pre-compute (floor(v·100+0.5), the
    shared engine-portable cents law) happens as a Catalyst projection
    BEFORE the stateful stage, so Python only maintains the ring buffer.

    Ordering contract: events must arrive in per-key timestamp order
    (one AvailableNow batch sorts itself; across micro-batches this is
    the same file-mtime-ordering assumption streaming/mv.py documents) —
    a regression raises rather than silently scoring against the wrong
    frame.  State is O(window) per key, eviction exact, emission
    exactly-once per event."""
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")

    def build(stream):
        return (
            stream.filter(F.col("user_id").isNotNull())
            .select(
                "user_id",
                F.unix_micros(F.col("ts")).alias("ts_us"),
                cents.alias("v"),
            )
            .groupBy("user_id")
            .applyInPandasWithState(
                _make_rz_fn(window, min_periods),
                outputStructType=RZ_SCHEMA,
                stateStructType=_RZ_STATE,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
            # round + threshold in Catalyst, AFTER the stateful stage —
            # the same code path the batch operator's F.round uses, so the
            # drain==batch contract cannot drift on rounding ties
            .select(
                "user_id",
                "ts_us",
                "v",
                "roll_n",
                F.round(F.col("z_raw"), 9).alias("z"),
            )
            .withColumn(
                "is_anomaly",
                F.when(F.col("z").isNotNull(), F.abs(F.col("z")) > F.lit(z_thresh)),
            )
        )

    return _drain_events(spark, events_parquet, build, approx_keys)

