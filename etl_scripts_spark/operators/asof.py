"""As-of (nearest-preceding-event) join — an operator Spark lacks natively.

The naive formulation is an inequality join (`l.ts >= r.ts`) + greatest-per-
group, which Spark plans as a nested-loop or exploding range join — O(n·m)
per key.  The scale path used here is the tagged-union trick:

  1. tag right rows 0 and left rows 1, union them on (key, ts, tag);
  2. one window over (key) ordered by (ts, tag) carries the most recent
     right-side payload forward with `last(..., ignorenulls=True)`;
  3. keep left rows — each now holds its as-of match.

One shuffle on the key, one sort — identical cost to a sort-merge join of
the two inputs, linear in rows, independent of time-gap distribution.
Right-at-equal-ts sorts first, so the match is inclusive (l.ts >= r.ts),
matching DuckDB/pandas ASOF semantics.  The right payload travels as ONE
struct column: `last(ignorenulls)` then skips non-matching rows, never
individual null fields inside a matched row (a per-column carry would
resurrect older values for legitimately-null fields).

At 100 TB: the shuffle key is the `by` column — the same partitioning any
per-key sessionization uses.  NOTE: unlike joins, window partitions canNOT
be split by AQE's skew handling — a hot key (one user holding half the
events) funnels through one task.  For skewed keys use
:func:`asof_join_sliced`, which spreads each key across time slices and
fixes up slice boundaries with a bucket-level carry (rows = keys × slices,
not events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _orderable(dt: T.DataType) -> bool:
    """True if a column of this type can appear in a window ORDER BY."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def _carry(
    left: DataFrame,
    right: DataFrame,
    on: str,
    keys: list[str],
    payload_cols: list[str],
) -> DataFrame:
    """The tagged-union carry both as-of joins run: every `left` row with
    `_match`, the struct of `payload_cols` of the latest `right` row at or
    before it within its `keys` partition (NULL if none).

    Right rows are tagged 0 and sort first at equal `on`, so the match is
    inclusive.  Deterministic tie handling: multiple right rows tied on
    (keys, on) would otherwise carry an arbitrary payload.  When the
    payload struct is orderable (no map fields), it becomes the final
    tiebreak — the greatest payload wins, reproducibly.  With unorderable
    payloads the tie contract is unspecified (documented here, not
    silently random-ish: within one execution the window sort is stable
    per partition, but reruns may differ)."""
    left_cols = list(left.columns)
    tagged_right = right.select(
        *keys,
        F.col(on),
        F.lit(0).alias("_side"),
        F.struct(*[F.col(c) for c in payload_cols]).alias("_rpay_s"),
    )
    pay_type = tagged_right.schema["_rpay_s"].dataType
    # align schemas for the union: left keeps its full row, right carries
    # only (keys, on, payload struct)
    unioned = left.select(
        *left_cols, F.lit(1).alias("_side"), F.lit(None).cast(pay_type).alias("_rpay_s")
    ).unionByName(
        tagged_right.select(
            *[
                F.lit(None).cast(dict(left.dtypes)[c]).alias(c)
                for c in left_cols
                if c not in keys and c != on
            ],
            *keys,
            F.col(on),
            "_side",
            "_rpay_s",
        )
    )
    order_cols = [F.col(on).asc(), F.col("_side").asc()]
    if _orderable(pay_type):
        order_cols.append(F.col("_rpay_s").asc())
    w = (
        Window.partitionBy(*keys)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.withColumn("_match", F.last("_rpay_s", ignorenulls=True).over(w))
    return carried.filter(F.col("_side") == 1)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | None = None,
    suffix: str = "_matched",
) -> DataFrame:
    """Left as-of-backward join: every left row + the latest right row with
    ``right[on] <= left[on]`` (per ``by`` key if given), or nulls if none.

    Right columns (except join keys) come back suffixed with ``suffix``.
    """
    payload_cols = [c for c in right.columns if c != by]
    by_cols = [by] if by else []
    return _carry(left, right, on, by_cols, payload_cols).select(
        *left.columns,
        *[F.col(f"_match.{c}").alias(f"{c}{suffix}") for c in payload_cols],
    )


def asof_join_forward(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | None = None,
    suffix: str = "_matched",
) -> DataFrame:
    """Left as-of-FORWARD join: every left row + the EARLIEST right row
    with ``right[on] >= left[on]`` (per ``by`` key if given) — "the next
    calibration after this run", "the following price tick".

    Implementation is the negated-timeline trick: backward-asof over
    ``-on`` IS forward-asof over ``on`` (right_neg <= left_neg  ⇔
    right >= left, inclusive on equality both ways), so the whole
    tagged-union machinery — one key shuffle, one sort, skew notes and
    all — is reused rather than re-derived.  The matched right timestamp
    comes back un-negated as ``{on}{suffix}``; resample_interp finds each
    tick's following observation this way.  Timestamps of bigint-min
    cannot be negated (ANSI throws; they are sentinel garbage anyway).
    """
    out = asof_join(
        left.withColumn(on, -F.col(on)),
        right.withColumn(on, -F.col(on)),
        on=on,
        by=by,
        suffix=suffix,
    ).withColumn(on, -F.col(on))
    mc = on + suffix
    if mc in out.columns:
        out = out.withColumn(mc, -F.col(mc))
    return out


def asof_join_sliced(
    left: DataFrame,
    right: DataFrame,
    on: str = "ts",
    by: str | None = None,
    bucket=None,
    suffix: str = "_matched",
) -> DataFrame:
    """Skew-resistant as-of join: hot ``by`` keys spread across time slices.

    :func:`asof_join` windows over ``by`` alone, so one task sorts a hot
    key's entire history (AQE splits skewed JOIN partitions, never window
    partitions).  Here the same carry (:func:`_carry`) runs over
    ``(by, slice)`` — bounded task size at any skew — and left rows that
    precede every in-slice right row coalesce a carried-in payload
    computed on the bucket-level table (one row per key × slice,
    aggregated map-side, tiny).  Two extra small shuffles; the final
    fix-up join is on ``(by, slice)``, the partitioning the window just
    produced, so the exchange is reused.  With ``by=None`` the slice alone
    keys the carry.

    ``bucket``: fn Column → Column mapping the ``on`` value to a slice id
    (default: UTC day).  Same inclusive / greatest-payload-tie semantics as
    :func:`asof_join`.
    """
    if bucket is None:
        bucket = lambda c: F.floor(F.unix_timestamp(c) / 86400)  # noqa: E731
    payload_cols = [c for c in right.columns if c != by]
    pay = F.struct(*[F.col(c) for c in payload_cols])
    by_cols = [by] if by else []

    lb = left.withColumn("_b", bucket(F.col(on)))
    rb = right.withColumn("_b", bucket(F.col(on)))
    carried = _carry(lb, rb, on, [*by_cols, "_b"], payload_cols)

    # bucket-level last right payload; same greatest-payload tie rule as the
    # window when the payload is orderable, unspecified-tie otherwise
    if _orderable(T.StructType([right.schema[c] for c in payload_cols])):
        last_r = (
            rb.groupBy(*by_cols, "_b")
            .agg(F.max(F.struct(F.col(on).alias("_o"), pay.alias("_p"))).alias("_mx"))
            .select(*by_cols, "_b", F.col("_mx._p").alias("_last_pay"))
        )
    else:
        last_r = rb.groupBy(*by_cols, "_b").agg(F.max_by(pay, F.col(on)).alias("_last_pay"))
    slices = lb.select(*by_cols, "_b").union(rb.select(*by_cols, "_b")).distinct()
    w_carry = (
        Window.partitionBy(*by_cols)
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        slices.join(last_r, [*by_cols, "_b"], "left")
        .withColumn("_carry", F.last("_last_pay", ignorenulls=True).over(w_carry))
        .select(*by_cols, "_b", "_carry")
    )

    out = carried.join(carry, [*by_cols, "_b"], "left").withColumn(
        "_match", F.coalesce(F.col("_match"), F.col("_carry"))
    )
    return out.select(
        *left.columns,
        *[F.col(f"_match.{c}").alias(f"{c}{suffix}") for c in payload_cols],
    )


def resample_ffill(
    df: DataFrame,
    by: str,
    on: str = "ts",
    step: int = 60,
    suffix: str = "_ff",
) -> DataFrame:
    """Fixed-grid resampling with per-key forward fill — the time-series
    companion to the as-of join: one output row per key per `step` tick,
    carrying the latest observation at or before the tick.

    Grid law (deterministic, engine-portable): per key, ticks run from
    the first multiple of `step` at or after the key's min timestamp to
    its max timestamp inclusive — so every tick has an observation at or
    before it (no leading nulls) and keys are never extrapolated past
    their last observation.  A key whose span contains no step multiple
    produces no rows.

    Scale shape: the grid is sequence()/explode per key — rows = keys ×
    ticks, built map-side from the (key, min, max) aggregate, never a
    driver loop — and the carry is asof_join's tagged union: ONE shuffle
    on the key.  `sequence` is guarded for the empty case (Spark counts
    DOWN when start > stop rather than returning an empty array).

    Returns (by, on, <obs columns suffixed>) — the observation's own
    timestamp comes back as `{on}{suffix}`, so staleness at each tick is
    inspectable.  DuckDB mirrors this with generate_series + ASOF JOIN.
    """
    return asof_join(_resample_grid(df, by, on, step), df, on=on, by=by, suffix=suffix)


def _resample_grid(df: DataFrame, by: str, on: str, step: int) -> DataFrame:
    """(by, on) tick rows per the grid law above — shared by
    resample_ffill and resample_interp so the grid is defined (and, in
    interp's plan, computed) once.

    Ceiling of _lo/step must respect SIGN: Spark DIV truncates toward
    zero, which IS the ceiling for negative operands but needs the
    (+step-1) nudge only for positive ones — the unconditional nudge
    silently dropped leading ticks for pre-1970 (negative) timestamps."""
    if step <= 0:
        # step=0 would otherwise surface as a raw division-by-zero and a
        # negative step as an opaque sequence() failure — name it up front,
        # like interval_join._check_widths / band_join's eps guard
        raise ValueError("step must be positive")
    bounds = df.groupBy(by).agg(
        F.min(on).alias("_lo"), F.max(on).alias("_hi")
    )
    first = F.expr(
        f"(CASE WHEN _lo >= 0 THEN (_lo + {step - 1}) DIV {step} "
        f"ELSE _lo DIV {step} END) * {step}"
    )
    ticks = F.when(
        first <= F.col("_hi"),
        F.sequence(first, F.col("_hi"), F.lit(step)),
    ).otherwise(F.expr("CAST(array() AS ARRAY<BIGINT>)"))
    return bounds.select(
        F.col(by), F.explode(ticks.cast("array<bigint>")).alias(on)
    )


def resample_interp(
    df: DataFrame,
    by: str,
    on: str = "ts",
    value_col: str = "v",
    step: int = 60,
) -> DataFrame:
    """Fixed-grid LINEAR interpolation per key — the smooth companion to
    resample_ffill: each tick gets

        v = v_prev + (v_next − v_prev) · (t − t_prev) / (t_next − t_prev)

    between the bracketing observations (rounded to 6 dp; both engines
    divide IEEE-identically).  Grid law is resample_ffill's, so every
    tick has a preceding observation, and the following one is found by
    asof_join_forward (a second as-of pass, over the negated timeline) —
    two tagged-union carries, both shuffling on the same key.  A tick
    that lands exactly on an observation (or at the key's last
    observation, where prev == next) returns that value (the
    t_next == t_prev guard).

    Returns (by, on, v_interp).  DuckDB mirror: generate_series grid +
    one ASOF JOIN forward + one ASOF JOIN on negated ts.
    """
    obs = df.select(by, on, value_col)
    # ONE grid feeds both as-of passes: deriving the second pass's left
    # side from `prev` would re-run the entire ffill window carry just
    # to recover the tick list
    grid = _resample_grid(obs, by, on, step)
    prev = asof_join(grid, obs, on=on, by=by, suffix="_p")
    nxt = asof_join_forward(grid, obs, on=on, by=by, suffix="_n")
    j = prev.join(nxt.select(by, on, f"{value_col}_n", f"{on}_n"), [by, on])
    t_prev = F.col(f"{on}_p").cast("double")
    t_next = F.col(f"{on}_n").cast("double")
    v_prev = F.col(f"{value_col}_p").cast("double")
    v_next = F.col(f"{value_col}_n").cast("double")
    interp = F.when(t_next == t_prev, v_prev).otherwise(
        v_prev
        + (v_next - v_prev) * (F.col(on).cast("double") - t_prev) / (t_next - t_prev)
    )
    return j.select(by, on, F.round(interp, 6).alias("v_interp"))
