"""MERGE-style idempotent upsert, emulated without a lakehouse dependency.

The reference's upsert-if-absent probes (`sample exists? reuse : create`,
register-bam.py:118-131 and every dropbox) map to Delta `MERGE INTO` in
production (SURVEY §2.7 W1).  The v1 image has no Delta jars, so this module
emulates MERGE relationally — anti-join + union — which is exactly the
logical plan MERGE compiles to for insert/update-all semantics.  Swap in
`delta.tables.DeltaTable.merge` behind the same signature when the jar is on
the classpath (import-gated below).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

try:  # pragma: no cover - exercised only when delta-spark is installed
    from delta.tables import DeltaTable  # noqa: F401

    HAVE_DELTA = True
except Exception:  # broad: any import failure means "no lakehouse"
    HAVE_DELTA = False


def dedupe_updates(
    updates: DataFrame,
    keys: list[str],
    order_col: str,
    tiebreak_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Last-writer-wins within one batch (highest order_col per key).
    Pass `tiebreak_cols` when two updates can share (keys, order_col):
    without a total order the row_number pick is partition-dependent —
    callers with a determinism contract (scd2_apply) break ties on the
    payload itself, the asof_join pattern."""
    w = Window.partitionBy(*keys).orderBy(
        F.desc(order_col), *[F.desc(c) for c in tiebreak_cols]
    )
    return updates.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")


def merge_upsert(existing: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT, as a batch plan.

    Updates win on key collision; both inputs must share a schema.
    Idempotent: re-running with the same updates yields the same table.
    """
    kept = existing.join(updates.select(*keys), keys, "left_anti")
    return kept.unionByName(updates.select(*existing.columns))


def scd2_apply(
    history: DataFrame,
    updates: DataFrame,
    keys: list[str],
    attrs: list[str],
    effective_col: str = "effective_ts",
) -> DataFrame:
    """Slowly-changing-dimension TYPE-2 maintenance: apply an update batch
    to a versioned history table, closing superseded rows instead of
    overwriting them — the warehouse-standard way to keep sample/project
    metadata auditable (the reference mutates openBIS properties in place,
    e.g. register-mtb's sample updates; SCD2 is the same write with the
    audit trail the reference loses).

    `history` schema: keys + attrs + valid_from BIGINT + valid_to BIGINT
    (NULL = current row).  `updates`: keys + attrs + `effective_col`.
    Per key:

    - attrs unchanged vs the current row → no-op (idempotent: re-applying
      a batch is free),
    - attrs changed → the current row closes (valid_to = effective_ts)
      and a new open row starts at effective_ts,
    - new key → new open row,
    - STALE update (effective_ts ≤ current valid_from) → dropped; within
      one batch, last-writer-wins on effective_ts (dedupe_updates).

    Scale shape (100 TB history): closed rows (valid_to NOT NULL) pass
    through untouched — no join, and a valid_to-partitioned layout lets
    the scan prune them entirely.  Only the CURRENT slice meets the
    batch: ONE full-outer shuffle keyed by the business key; work is
    O(current + batch) regardless of history depth.  All timestamps are
    caller-supplied integers — nothing here invents time, so the output
    is deterministic and engine-portable (DuckDB oracle = the same
    full-outer join + unions).
    """
    closed = history.filter(F.col("valid_to").isNotNull())
    current = history.filter(F.col("valid_to").isNull())
    upd = dedupe_updates(
        updates.select(*keys, *attrs, F.col(effective_col).alias("_eff")),
        keys,
        "_eff",
        # ties on (key, effective_ts) resolve on the payload, greatest
        # wins — deterministic across partitionings and engines
        tiebreak_cols=tuple(attrs),
    )
    cols = [*keys, *attrs, "valid_from", "valid_to"]
    c = current.select(*[F.col(x).alias(f"_c_{x}") for x in cols], *keys)
    j = c.join(upd, keys, "full")
    has_cur = F.col("_c_valid_from").isNotNull()
    has_upd = F.col("_eff").isNotNull()
    fresh_upd = has_upd & (~has_cur | (F.col("_eff") > F.col("_c_valid_from")))
    same = F.lit(True)
    for a in attrs:
        same = same & F.col(f"_c_{a}").eqNullSafe(F.col(a))
    changes = fresh_upd & (~has_cur | ~same)
    # single pass over the joined row — emitting each outcome as a
    # branch of one array-then-explode keeps the plan at ONE physical
    # join (three filtered selects over `j` would compile to three join
    # executions; the exchange is reused but the join CPU is paid 3×)
    closing_s = F.struct(
        *[F.col(f"_c_{a}").alias(a) for a in attrs],
        F.col("_c_valid_from").alias("valid_from"),
        F.col("_eff").alias("valid_to"),
    )
    opened_s = F.struct(
        *[F.col(a).alias(a) for a in attrs],
        F.col("_eff").alias("valid_from"),
        F.lit(None).cast("bigint").alias("valid_to"),
    )
    kept_s = F.struct(
        *[F.col(f"_c_{a}").alias(a) for a in attrs],
        F.col("_c_valid_from").alias("valid_from"),
        F.col("_c_valid_to").alias("valid_to"),
    )
    emit = (
        # superseded current row closes at the update's effective time
        F.when(changes & has_cur, F.array(closing_s, opened_s))
        .when(changes, F.array(opened_s))  # new key: open only
        .when(has_cur, F.array(kept_s))  # no-op / stale: keep as-is
        # no otherwise: a full-outer row always has a side, and explode
        # drops the NULL array of the unreachable branch anyway
    )
    out_updates = j.select(*keys, F.explode(emit).alias("_o")).select(
        *keys, "_o.*"
    )
    return closed.select(*cols).unionByName(out_updates.select(*cols))


def scd2_snapshot(history: DataFrame, ts) -> DataFrame:
    """Point-in-time view: the row version live at integer time `ts`
    (valid_from ≤ ts < valid_to, open rows unbounded).  Pure filter —
    pushes down to the scan, prunes a valid_to-partitioned layout."""
    return history.filter(
        (F.col("valid_from") <= F.lit(ts))
        & (F.col("valid_to").isNull() | (F.col("valid_to") > F.lit(ts)))
    )


def scd2_join(
    facts: DataFrame,
    history: DataFrame,
    key: str,
    ts_col: str = "ts",
    suffix: str = "_dim",
) -> DataFrame:
    """Enrich every fact with the dimension version valid at its event
    time (fact.ts ∈ [valid_from, valid_to)) — the companion READ to
    scd2_apply, and the warehouse-standard "dimension lookup as of
    event time".

    NOT an inequality join: `f.ts BETWEEN h.valid_from AND h.valid_to`
    plans as a nested-loop / exploding range join at scale.  Instead the
    history's valid_from becomes an as-of timeline and
    operators.asof.asof_join's tagged-union trick carries the latest
    version forward — ONE shuffle on the business key, one sort, linear
    in rows.  A trailing guard nulls the match when the fact lands in a
    GAP (matched valid_to ≤ fact ts), so the semantics are exact for any
    non-overlapping interval set, not only the contiguous histories
    scd2_apply produces.  Facts before a key's first version get nulls.
    """
    from ..operators.asof import asof_join

    attrs = [c for c in history.columns if c not in (key, "valid_from", "valid_to")]
    clash = set(attrs) & {ts_col}
    if clash:
        raise ValueError(f"history attr collides with fact ts column: {clash}")
    out_cols = {f"{a}{suffix}" for a in attrs} | {
        f"valid_from{suffix}",
        f"valid_to{suffix}",
        f"{ts_col}{suffix}",
    }
    clash = set(facts.columns) & out_cols
    if clash:
        # Spark would emit duplicate column names silently; any later
        # select on them fails with AMBIGUOUS_REFERENCE — fail loudly now
        raise ValueError(f"fact columns collide with suffixed outputs: {clash}")
    h = history.select(
        F.col(key),
        F.col("valid_from").alias(ts_col),
        *[F.col(a) for a in attrs],
        F.col("valid_to"),
    )
    out = asof_join(facts, h, on=ts_col, by=key, suffix=suffix)
    vt = F.col(f"valid_to{suffix}")
    valid = F.col(f"{ts_col}{suffix}").isNotNull() & (
        vt.isNull() | (vt > F.col(ts_col))
    )
    return out.select(
        *facts.columns,
        *[F.when(valid, F.col(f"{a}{suffix}")).alias(f"{a}{suffix}") for a in attrs],
        F.when(valid, F.col(f"{ts_col}{suffix}")).alias(f"valid_from{suffix}"),
        F.when(valid, vt).alias(f"valid_to{suffix}"),
    )
