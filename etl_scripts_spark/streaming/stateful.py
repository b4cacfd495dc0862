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
per-user count + sum) runs as a native streaming aggregation in
:mod:`.windowed` and never leaves the JVM.  What stays here — the KMV,
count-min and HyperLogLog sketch merges and the rolling z-score ring
buffer — has no Spark aggregate, so its updates cross into Python,
Arrow-batched per group.

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


CMS_SCHEMA = T.StructType(
    [
        T.StructField("r", T.IntegerType()),
        T.StructField("version", T.LongType()),
        T.StructField("counters", T.StringType()),
    ]
)

_CMS_STATE = T.StructType(
    [T.StructField("version", T.LongType()), T.StructField("counters", T.StringType())]
)

_CMS_D = 4
_CMS_W = 256


def _cms_fn(key: Tuple[Any, ...], pdfs: Iterator, state: GroupState) -> Iterator:
    """Add each micro-batch's pre-bucketed hits into this row's w counters
    (the algebraic CMS merge: counters add).  State is one CSV of w ints —
    bounded regardless of stream volume."""
    import pandas as pd

    if state.exists:
        version, csv = state.get
        counters = [int(x) for x in csv.split(",")]
    else:
        version, counters = 0, [0] * _CMS_W
    for pdf in pdfs:
        version += len(pdf)
        for b, c in pdf["b"].value_counts().items():
            counters[int(b)] += int(c)
    csv = ",".join(str(c) for c in counters)
    state.update((version, csv))
    yield pd.DataFrame(
        {"r": [int(key[0])], "version": [version], "counters": [csv]}
    )


def stateful_cms_available_now(
    spark: SparkSession, events_parquet: str
) -> DataFrame:
    """Streaming count-min sketch maintenance: the d×w counter matrix
    lives IN the state store (one row-salt per state key) and every
    micro-batch adds its pre-bucketed hits — operators/sketch.cms_build
    run live, with the SAME bucket law (first 32 bits of md5(r|value)
    mod w) computed as a Catalyst projection BEFORE the stateful stage,
    so the Python fn only increments counters.  After the AvailableNow
    drain the final state equals the batch sketch over all events
    row-for-row; returns (r, b, cnt) in the batch layout so
    cms_estimate / heavy-hitter probes compose unchanged.
    """

    def build(stream):
        probes = [
            F.struct(
                F.lit(j).alias("r"),
                (
                    F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    "|", F.lit(str(j)), F.col("user_id").cast("string")
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("bigint")
                    % _CMS_W
                ).alias("b"),
            )
            for j in range(_CMS_D)
        ]
        return (
            stream.filter(F.col("user_id").isNotNull())
            .select(F.explode(F.array(*probes)).alias("_rb"))
            .select("_rb.r", "_rb.b")
            .groupBy("r")
            .applyInPandasWithState(
                _cms_fn,
                outputStructType=CMS_SCHEMA,
                stateStructType=_CMS_STATE,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

    out = _drain_events(spark, events_parquet, build, _CMS_D)
    # keep the LAST emission per row-salt (max version), then explode the
    # counter CSV back to the batch (r, b, cnt) layout, dropping zeros to
    # match cms_build's sparse output
    last = (
        out.groupBy("r")
        .agg(F.max_by("counters", "version").alias("counters"))
        .select("r", F.split("counters", ",").alias("_cs"))
    )
    exploded = last.select(
        "r", F.posexplode("_cs").alias("b", "_c")
    ).select("r", "b", F.col("_c").cast("bigint").alias("cnt"))
    return exploded.filter(F.col("cnt") > 0)


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


# --- streaming HyperLogLog maintenance --------------------------------------

HLL_SCHEMA = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("version", T.LongType()),
        T.StructField("registers", T.StringType()),
    ]
)

_HLL_STATE = T.StructType(
    [T.StructField("version", T.LongType()), T.StructField("registers", T.StringType())]
)

#: streaming register precision: m=1024 keeps the per-key state CSV ~4 KB
_HLL_P = 10


def _hll_fn(key: Tuple[Any, ...], pdfs: Iterator, state: GroupState) -> Iterator:
    """Max each micro-batch's (bucket, rho) rows into this key's m
    registers (the algebraic HLL merge: registers max) — bounded state
    regardless of stream volume."""
    import pandas as pd

    if state.exists:
        version, csv = state.get
        regs = [int(x) for x in csv.split(",")]
    else:
        version, regs = 0, [0] * (1 << _HLL_P)
    for pdf in pdfs:
        version += len(pdf)
        for b, r in zip(pdf["bucket"], pdf["rho"]):
            b = int(b)
            if int(r) > regs[b]:
                regs[b] = int(r)
    csv = ",".join(str(r) for r in regs)
    state.update((version, csv))
    yield pd.DataFrame(
        {"event_type": [key[0]], "version": [version], "registers": [csv]}
    )


def stateful_hll_available_now(
    spark: SparkSession, events_parquet: str, approx_keys: int = 8
) -> DataFrame:
    """Streaming HyperLogLog maintenance: the per-event-type register
    array lives IN the state store and every micro-batch maxes its
    (bucket, rho) rows in — operators/sketch.hll_registers run live, with
    the SAME bucket/rho law (sketch.hll_bucket_rho) computed as a
    Catalyst projection BEFORE the stateful stage, so the Python fn only
    takes maxes.  After the AvailableNow drain the final state equals the
    batch register table over all events row-for-row; returns
    (event_type, bucket, register) in the batch layout (zero registers
    dropped — absent buckets are implicit there too), so hll_estimate
    composes unchanged."""
    from ..operators.sketch import hll_bucket_rho

    def build(stream):
        bucket, rho = hll_bucket_rho(F.col("user_id").cast("string"), _HLL_P)
        return (
            stream.filter(F.col("user_id").isNotNull())
            .select("event_type", bucket.alias("bucket"), rho.alias("rho"))
            .groupBy("event_type")
            .applyInPandasWithState(
                _hll_fn,
                outputStructType=HLL_SCHEMA,
                stateStructType=_HLL_STATE,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            )
        )

    out = _drain_events(spark, events_parquet, build, approx_keys)
    # keep the LAST emission per key, explode the CSV back to the sparse
    # batch (event_type, bucket, register) layout
    last = (
        out.groupBy("event_type")
        .agg(F.max_by("registers", "version").alias("registers"))
        .select("event_type", F.split("registers", ",").alias("_rs"))
    )
    return (
        last.select("event_type", F.posexplode("_rs").alias("bucket", "_r"))
        .select(
            "event_type",
            F.col("bucket").cast("int").alias("bucket"),
            F.col("_r").cast("int").alias("register"),
        )
        .filter(F.col("register") > 0)
    )
