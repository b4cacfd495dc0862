"""Event-time windowing, sessionization, and running aggregates.

The reference has no streaming engine (SURVEY §2.8).  The tumbling and
hopping rollups here are written on Spark's `window(ts, ...)`, which runs
on a batch frame and on a stream alike: the AvailableNow drains of
:mod:`etl_scripts_spark.streaming.windowed` call these same functions on
a watermarked stream, so the two paths share one plan, not two copies.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..expressions import cents


def hourly_rollup(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour (hour_start, event_type, n_events, sum_value) —
    hour_start is the window start as a timestamp.

    Groups by the tumbling `window(ts, '1 hour')`, whose start equals
    date_trunc('hour', ts) in UTC; a row with a NULL ts falls in no
    window.  On a stream watermarked on ts the same plan is the
    streaming rollup.  Money-style sums go through DECIMAL(18,2) so
    results are exact and associative — identical under any aggregation
    order / engine.
    """
    return (
        events.groupBy(F.window("ts", "1 hour").alias("_w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("_w.start").alias("hour_start"), "event_type", "n_events", "sum_value")
    )


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Gap-based sessionization per user: lag(ts) + cumulative new-session flag.

    Returns one row per session: (user_id, session_id, n_events,
    session_start, session_end).  Deterministic order: (ts, event_id).
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # unix_micros works on TIMESTAMP regardless of how the parquet encoded it
    # (a raw long cast is illegal on TIMESTAMP_NTZ and only second-precision
    # on TIMESTAMP).
    gap = F.lit(gap_minutes * 60 * 1_000_000)
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    with_flag = events.withColumn(
        "new_session",
        F.when(ts_us - F.lag(ts_us).over(w) > gap, 1).otherwise(F.lit(0)),
    ).withColumn(
        "new_session", F.when(F.lag("ts").over(w).isNull(), 1).otherwise(F.col("new_session"))
    )
    with_session = with_flag.withColumn(
        "session_id", F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return with_session.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


def running_total(orders: DataFrame) -> DataFrame:
    """Per-customer cumulative order value, ordered by (orderdate, orderkey).

    DECIMAL accumulation ⇒ exact prefix sums, engine-independent.
    """
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return orders.select(
        F.col("o_custkey").alias("custkey"),
        F.col("o_orderkey").alias("orderkey"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("running_spend"),
    )


def top_k_per_group(
    df: DataFrame, part_col: str, order_col: str, k: int, tiebreak_col: str
) -> DataFrame:
    """Classic windowed top-k: row_number ≤ k per partition, deterministic
    tiebreak."""
    w = Window.partitionBy(part_col).orderBy(F.desc(order_col), F.asc(tiebreak_col))
    return df.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= k)


def global_row_number(
    df: DataFrame, order_cols: list[str], out_col: str = "rank"
) -> DataFrame:
    """Exact global row_number over a total order WITHOUT collapsing to a
    single partition (the classic `Window.orderBy(...)` trap that
    serializes the whole table through one task): the running sum of
    ``lit(1)`` in :func:`_range_ranked`.  `order_cols` must be a total
    order (include a unique id as the last column)."""
    return _range_ranked(df, order_cols, out_col)[0].drop("_pid")


def global_running_sum(
    df: DataFrame, order_cols: list[str], sum_col: str, out_col: str = "running"
) -> DataFrame:
    """Exact global running (prefix) sum of `sum_col` over a total order,
    the same distributed shape as :func:`global_row_number`.

    `order_cols` must be a total order (include a unique id last);
    `sum_col` must be integral/decimal for the sum to be exact.
    """
    return _range_ranked(df, order_cols, out_col, F.col(sum_col))[0].drop("_pid")


def _range_ranked(
    df: DataFrame, order_cols: list[str], out_col: str, measure=None
) -> tuple[DataFrame, DataFrame]:
    """The one range-prefix kernel: the exact global running sum of
    `measure` (default ``lit(1)``, i.e. the global rank) over the total
    order `order_cols`.  Returns (frame + `out_col`, still carrying
    `_pid`; per-partition totals (_pid, _tot)).

    Distributed shape: range-partition on the order key (the session's
    shuffle partitions, which AQE may coalesce — coalescing merges
    adjacent ranges, so partition ids stay in key order), a per-partition
    local prefix sum (the window partitions by the physical range
    partition, so every task sums only its slice), plus the broadcast
    sum of all earlier partitions' totals.  The result depends only on
    the total order, not on where the sampled range boundaries land.

    The range-partitioned frame is localCheckpointed because BOTH the
    local-prefix branch and the partition-totals branch read it: a
    re-sampled range exchange between branches would make offsets
    inconsistent with local sums.  Consumers that need the TOTAL row
    count aggregate the one-row-per-partition `totals` instead of
    re-counting the ranked frame — the count branch re-plans the
    broadcast-offsets join over a second scan of the checkpoint (guide
    §2.4 duplicated subtree; measured on q_lm_buckets r14)."""
    m = F.lit(1) if measure is None else measure
    parted = (
        df.repartitionByRange(*[F.col(c) for c in order_cols])
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w = (
        Window.partitionBy("_pid")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = parted.withColumn("_lsum", F.sum(m).over(w))
    totals = parted.groupBy("_pid").agg(F.sum(m).alias("_tot"))
    woff = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = totals.select(  # one row per partition — the only single-partition window
        "_pid", F.coalesce(F.sum("_tot").over(woff), F.lit(0)).alias("_off")
    )
    ranked = (
        local.join(F.broadcast(offs), "_pid")
        .withColumn(out_col, F.col("_lsum") + F.col("_off"))
        .drop("_lsum", "_off")
    )
    return ranked, totals


def ntile_buckets(
    df: DataFrame,
    order_cols: list[str],
    n_buckets: int = 4,
    out_col: str = "bucket",
) -> DataFrame:
    """Exact ANSI NTILE over a total order, built on
    :func:`global_row_number` — equal-frequency buckets where the first
    (n mod k) buckets hold ceil(n/k) rows — without the single-partition
    sort a bare `ntile().over(Window.orderBy(...))` plans.

    tests/test_stages.py pins the formula against the builtin ntile on a
    remainder-bearing frame.
    """
    # total row count from the one-row-per-partition totals, NOT a count over
    # the ranked frame: Catalyst prunes the unused Window from that count,
    # but the branch still re-plans the broadcast-offsets join — its own
    # Exchange + HashAggregate tower over a second scan of the checkpoint
    # (r14: q_lm_buckets 16 → 14 Exchanges, ABAB pairs 4.17 → 3.30 s)
    ranked, totals = _range_ranked(df, order_cols, "_grank")
    ranked = ranked.drop("_pid")
    n_row = totals.groupBy().agg(
        F.coalesce(F.sum("_tot"), F.lit(0)).cast("bigint").alias("_n")
    )
    out = ranked.join(F.broadcast(n_row))
    q = F.floor(F.col("_n") / n_buckets)
    rem = F.col("_n") % n_buckets
    big = rem * (q + 1)  # rows living in the (q+1)-sized leading buckets
    r = F.col("_grank")
    bucket = F.when(
        r <= big, F.floor((r - 1) / (q + 1)) + 1
    ).otherwise(rem + F.floor((r - big - 1) / q) + 1)
    return out.withColumn(out_col, bucket.cast("bigint")).drop("_grank", "_n")


def exact_percentiles(
    df: DataFrame,
    value_col: str,
    pcts: tuple[int, ...] = (25, 50, 75),
    by: str | None = None,
) -> DataFrame:
    """Exact distributed PERCENTILE_DISC at integer percents:
    (by?, pct, value) — the value at rank ceil(pct·n/100) of the non-NULL
    values in ascending order (the ANSI percentile_disc law: smallest
    value whose cumulative share ≥ pct/100).

    The target rank stays in EXACT integers — (pct·n + 99) DIV 100 —
    never ceil(float·n): 0.07·100 is 7.000000000000001 in IEEE and a
    float ceil silently lands one rank high exactly when n aligns with
    the percent boundary, and whether an oracle engine agrees would
    depend on ITS rounding.  Ties need no tiebreak: whichever tied row
    takes the target rank carries the same value.

    Scale shape: the grouped path ranks inside a per-group window (one
    key shuffle; each group sorts in its own task — right when groups ≫
    cores); the GLOBAL path rides global_row_number's range-partitioned
    rank instead, because a bare Window.orderBy would serialize the table
    through one task.  Complements histogram_quantile (the sketch
    estimate): this is the exact answer when you can afford a sort, that
    is the bounded-size answer when you cannot."""
    if not pcts:
        raise ValueError("pcts must be non-empty")
    for pct in pcts:
        if not (isinstance(pct, int) and 1 <= pct <= 100):
            raise ValueError(f"pcts must be integers in [1, 100], got {pct!r}")
    vals = df.filter(F.col(value_col).isNotNull())
    if by is None:
        # total row count from the partition totals (see _range_ranked) —
        # never a second counting pass over the window-sorted frame
        ranked, totals = _range_ranked(vals.select(value_col), [value_col], "_rn")
        ranked = ranked.drop("_pid")
        counts = totals.groupBy().agg(
            F.coalesce(F.sum("_tot"), F.lit(0)).cast("bigint").alias("_n")
        )
        from .corpus import join_singleton

        ranked = join_singleton(ranked, counts)
        group_cols: list[str] = []
    else:
        # count(*) over the SAME window partition: no second aggregate,
        # no join back — and a NULL group key survives (an equi-join on
        # `by` would silently drop the NULL partition the oracle keeps)
        w = Window.partitionBy(by).orderBy(value_col)
        ranked = vals.select(by, value_col).select(
            "*",
            F.row_number().over(w).alias("_rn"),
            F.count(F.lit(1)).over(Window.partitionBy(by)).alias("_n"),
        )
        group_cols = [by]
    targets = F.array(
        *[
            F.struct(
                F.lit(pct).alias("pct"),
                # SQL DIV, not `/`: Spark's `/` is DOUBLE division, which
                # would re-introduce the float boundary this op exists
                # to avoid
                F.expr(f"({pct} * _n + 99) DIV 100").alias("_t"),
            )
            for pct in pcts
        ]
    )
    hit = ranked.select(
        *group_cols, value_col, "_rn", F.explode(targets).alias("_pt")
    ).filter(F.col("_rn") == F.col("_pt._t"))
    return hit.select(
        *group_cols, F.col("_pt.pct").alias("pct"), F.col(value_col).alias("value")
    )


def hopping_rollup(
    events: DataFrame,
    width_s: int,
    slide_s: int,
    ts_col: str = "ts",
    key_col: str | None = None,
    value_col: str | None = None,
) -> DataFrame:
    """(window_start, window_end, key?, n_events, value_cents) — hopping
    (sliding) window aggregation: each event lands in width_s/slide_s
    overlapping windows.  Completes the window family: `hourly_rollup`
    is the tumbling special case (width == slide), sessionize the
    gap-based one; hopping is what rate/trend monitors actually read
    (a 1h window sliding every 10min reacts 6× faster than a tumbling
    hour while smoothing the same span).

    Built on F.window(ts, width, slide) — Spark's native multi-assign
    (an Expand of width/slide rows per event BEFORE the aggregate, so
    the map-side combine sees every copy locally; no self-join, no
    per-window scans).  width must be a multiple of slide: Spark allows
    ragged configs but their window-set law is subtle enough that the
    cross-engine mirror (and most readers) get it wrong — the aligned
    form is what monitors use.  Timestamps convert via unix_micros
    (never cast-as-long); the optional value column snaps to exact
    integer cents per row (:func:`..expressions.cents`,
    floor(v·100 + 0.5)) so sums are reduction-tree-independent.  Window
    bounds are emitted as epoch MICROSECONDS (engine-portable integers,
    not timestamps).  On a stream watermarked on `ts_col` the same plan
    is the streaming hopping rollup.
    """
    if width_s <= 0 or slide_s <= 0:
        raise ValueError("width_s and slide_s must be positive")
    if width_s % slide_s != 0:
        raise ValueError(
            "width_s must be a multiple of slide_s (aligned hopping windows)"
        )
    win = F.window(
        F.col(ts_col), f"{width_s} seconds", f"{slide_s} seconds"
    ).alias("_w")
    key_names = [key_col] if key_col else []
    value_names = [value_col] if value_col is not None else []
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(F.sum(cents(F.col(value_col))).alias("value_cents"))
    out = (
        events.filter(F.col(ts_col).isNotNull())
        .select(win, *key_names, *value_names)
        .groupBy("_w", *key_names)
        .agg(*aggs)
    )
    return out.select(
        F.unix_micros(F.col("_w.start")).alias("window_start_us"),
        F.unix_micros(F.col("_w.end")).alias("window_end_us"),
        *key_names,
        "n_events",
        *(["value_cents"] if value_col is not None else []),
    )
