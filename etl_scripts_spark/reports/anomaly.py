"""Rolling-window anomaly detection over keyed time series.

The missing window-FRAME family: sessionize/funnel/retention cover
event-time grouping, drift/PSI cover distribution shift between batches —
this covers per-key, per-observation outliers against the key's own
trailing history (metric monitoring, sensor QC, the reference's
measurement-run sanity checks done statistically).

Law (engine-portable, deterministic): for each row, the trailing frame is
the previous `window` observations of the SAME key in `order_col` order
(ROWS BETWEEN window PRECEDING AND 1 PRECEDING — the current row is
excluded so a spike cannot mask itself).  Moments are EXACT integer sums
(DECIMAL(38,0)) over the frame; the only float steps are the final
mean/variance/z divisions, written as one canonical expression evaluated
identically by Spark and DuckDB (IEEE ops on identical inputs), rounded
to 9 dp — the same parity recipe as PSI/grouped-OLS.

Scale shape: ONE hash exchange on the key + one sort — linear in rows,
no self-join (the naive "join each row to its neighbors" formulation is
O(rows × window) shuffle).  Skewed keys: a single key's series sorts in
one task; series this op targets (per-metric, per-sensor) are bounded per
key — for a genuinely unbounded hot key, pre-slice by coarse time the way
operators/skew.py does for the as-of join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..exactness import require_integral_columns


def rolling_zscore(
    df: DataFrame,
    by: str,
    order_col: str,
    value_col: str,
    window: int = 20,
    min_periods: int = 5,
    z_thresh: float = 3.0,
) -> DataFrame:
    """Per-row z-score of `value_col` against the key's trailing window.

    Returns the input columns + (roll_n, z, is_anomaly): `roll_n` = how
    many prior observations the frame held; `z` = (x − mean)/std rounded
    to 9 dp, NULL while the frame is short (roll_n < min_periods), the
    frame is flat (zero variance), or x is NULL; `is_anomaly` =
    |z| > z_thresh, NULL exactly when z is NULL (three-valued, like the
    expectations engine — an undecidable row is surfaced, not dropped).

    Guards: duplicate (by, order_col) pairs raise loudly — with ties the
    frame CONTENTS depend on engine/partitioning sort stability, so the
    law would silently stop being deterministic (the guard is a peer
    count over the same sort, no extra exchange).  NULL order keys raise
    for the same reason (Spark sorts NULLS FIRST, DuckDB NULLS LAST).
    Integer values only (exactness gate) — float sums are reduction-tree
    dependent.
    """
    if window < 1:
        raise ValueError("rolling_zscore: window must be >= 1")
    if not 2 <= min_periods <= window:
        raise ValueError("rolling_zscore: need 2 <= min_periods <= window")
    require_integral_columns(df, [value_col], "rolling_zscore")
    internals = {"_rz_n", "_rz_s1", "_rz_s2", "_rz_p", "_rz_g", "_rz_z"}
    clash = internals & set(df.columns)
    if clash:
        raise ValueError(f"rolling_zscore: columns collide with internals: {sorted(clash)}")

    ob = Window.partitionBy(by).orderBy(order_col)
    frame = ob.rowsBetween(-window, -1)
    v = F.col(value_col).cast("decimal(38,0)")
    # value² ≤ (2^63)² < 10^38 — a single square always fits DECIMAL(38,0);
    # the SUM of squares can overflow (→ NULL non-ANSI / throw ANSI), which
    # the s2-null-with-rows guard below turns into a named raise either way
    moments = df.select(
        *df.columns,
        F.count(v).over(frame).alias("_rz_n"),
        F.sum(v).over(frame).alias("_rz_s1"),
        F.sum(v * v).over(frame).alias("_rz_s2"),
        # peer group of the current order value: >1 ⇒ duplicate (by, order)
        # key.  rangeBetween(0,0) = RANGE CURRENT ROW — rides the SAME
        # sort/exchange.
        F.count(F.lit(1)).over(ob.rangeBetween(0, 0)).alias("_rz_p"),
    )
    n, s1, s2 = F.col("_rz_n"), F.col("_rz_s1"), F.col("_rz_s2")
    bad = F.col(order_col).isNull() | (F.col("_rz_p") > 1)
    overflow = (n > 0) & s2.isNull()
    nd = n.cast("double")
    mean = s1.cast("double") / nd
    # one canonical formula, mirrored verbatim in the oracle SQL: identical
    # IEEE ops on identical inputs → identical doubles in both engines
    var = (s2.cast("double") - s1.cast("double") * s1.cast("double") / nd) / (nd - 1)
    z = F.round((F.col(value_col).cast("double") - mean) / F.sqrt(var), 9)
    guard = F.when(
        bad,
        F.raise_error(
            F.lit("rolling_zscore: NULL or duplicate (key, order) — frame ill-defined")
        ),
    ).when(
        overflow, F.raise_error(F.lit("rolling_zscore: sum of squares overflowed"))
    )
    # the guard and z each in their own column, so each is evaluated once
    # per row; the guard still reaches EVERY output column (is_anomaly via
    # z): a caller selecting only z / is_anomaly would otherwise let
    # Catalyst prune the raising expression away with the column that
    # carried it, silently disabling the dup/NULL-order and overflow guards
    scored = moments.select(
        *df.columns,
        "_rz_n",
        guard.alias("_rz_g"),
        F.when((n >= min_periods) & (var > 0), z).alias("_rz_z"),
    ).select(
        *df.columns,
        F.coalesce(F.col("_rz_g").cast("bigint"), n).alias("roll_n"),
        F.coalesce(F.col("_rz_g").cast("double"), F.col("_rz_z")).alias("z"),
    )
    zc = F.col("z")
    return scored.select(
        "*", F.when(zc.isNotNull(), F.abs(zc) > F.lit(z_thresh)).alias("is_anomaly")
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    by: str | None = None,
    k_num: int = 3,
    k_den: int = 1,
) -> DataFrame:
    """Robust outlier flags via the median-absolute-deviation rule:
    every input row annotated with (med, mad, is_outlier) where
    is_outlier ⟺ |x − med| > (k_num/k_den)·MAD — the distribution-free
    companion to rolling_zscore (mean/stddev are themselves dragged by
    the outliers they are supposed to expose; the median/MAD pair is
    50%-breakdown robust).

    Exactness: integer inputs only (the exact_percentiles contract);
    both medians are PERCENTILE_DISC — actual data values at an exact
    integer rank, never interpolated floats — so dev, MAD, and the
    threshold compare dev·k_den > k_num·MAD all stay in exact integer
    arithmetic (DECIMAL(38,0) cross-multiply: a float k·MAD compare
    would flip on IEEE boundaries exactly at the fence).  Three-valued:
    a NULL value gets a NULL flag (it is not evidence of an outlier,
    and not evidence of normality either — the expectations-engine
    convention); a group whose values are ALL NULL has no median and
    flags NULL throughout.

    Plan: two exact_percentiles passes (each one key shuffle — grouped
    path windows per group, global path rides the range-partitioned
    rank) + two null-safe joins of the kilobyte-per-group med/MAD
    tables back to the rows.  The joins are eqNullSafe on the group key
    so a NULL group — which exact_percentiles deliberately keeps —
    is not silently dropped on the way back.
    """
    from ..operators.windows import exact_percentiles

    if not (isinstance(k_num, int) and isinstance(k_den, int)) or k_num < 0 or k_den <= 0:
        raise ValueError("k_num must be a non-negative int and k_den a positive int")
    require_integral_columns(df, [value_col], "mad_outliers")

    def attach(base: DataFrame, stat: DataFrame, out: str) -> DataFrame:
        stat = stat.select(
            *([F.col(by).alias("_g")] if by else []),
            F.col("value").alias(out),
        )
        if by is None:
            # LEFT 1-row broadcast, not join_singleton's crossJoin: an
            # all-NULL input makes the stat table EMPTY, and a cross join
            # with an empty side would silently drop every row instead of
            # flagging NULL
            return base.join(F.broadcast(stat), F.lit(True), "left")
        return base.join(
            F.broadcast(stat), base[by].eqNullSafe(stat["_g"]), "left"
        ).drop("_g")

    med = exact_percentiles(df, value_col, (50,), by)
    with_med = attach(df, med, "med")
    dev = F.abs(F.col(value_col) - F.col("med"))
    with_dev = with_med.withColumn("_dev", dev)
    mad = exact_percentiles(with_dev, "_dev", (50,), by)
    out = attach(with_dev, mad, "mad")
    flag = F.when(
        F.col(value_col).isNotNull() & F.col("med").isNotNull(),
        F.col("_dev").cast("decimal(38,0)") * F.lit(k_den)
        > F.lit(k_num) * F.col("mad").cast("decimal(38,0)"),
    )
    return out.withColumn("is_outlier", flag).drop("_dev")
