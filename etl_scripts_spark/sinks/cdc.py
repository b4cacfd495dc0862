"""Row-level change data feed between committed snapshots.

The reference replays whole dropbox batches to discover what changed between
two registrations (e.g. the sample re-sync loops in
drop-boxes/register-all-dropbox/register-all.py and the property refresh in
etl_msconvert.py route everything through "read current state, diff against
incoming, mutate the delta").  The lakehouse-native form of that need is a
change data feed: given two committed versions of a keyed table, emit the
rows that were inserted, deleted, or updated (pre- and post-image), so a
downstream consumer processes the DELTA instead of re-reading the table.

Spark-first shape:

* ONE full-outer join on the key — both snapshots shuffle once on the same
  key, and the per-side duplicate-key guard (a window count) rides the very
  exchange the join introduces, so the loud uniqueness check is free.
* The three outcomes (insert / delete / update pre+post) are emitted in a
  SINGLE pass via an array-of-structs + explode, the scd2_apply pattern —
  never three filtered re-reads of the joined result.
* Work is O(|old| + |new|) rows at any table history depth: versions are
  snapshots, so the feed never touches versions between `v_from` and
  `v_to`.  At 100 TB the row-level diff is the semantics; the manifests
  (sinks/commit.py) are the file-pruning layer a format like Delta would
  use to skip unchanged files before this join — the law below is what the
  pruned scan must still compute.

DuckDB twin: oracle.table_changes_sql (full outer join + IS NOT DISTINCT
FROM + 4-way UNION ALL) recomputes the feed from the same two snapshot
relations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .commit import latest_committed_version, read_version

def snapshot_changes(
    old: DataFrame | None, new: DataFrame, keys: list[str]
) -> DataFrame:
    """Diff two keyed snapshots into a change feed.

    Output: one row per changed key (two for updates), columns =
    keys + attrs + `_change_type`.  Unchanged rows (every attribute
    null-safe-equal) emit nothing.  `old=None` means "empty table":
    every `new` row is an insert.

    Both snapshots must be key-unique — the reference's keyed entities
    and this repo's optimistic_upsert guarantee it on write, and a
    duplicated key would make "the" pre-image ill-defined — so a
    duplicate raises loudly (per-side window count over the join key;
    same hash partitioning as the join, no extra exchange) instead of
    silently multiplying feed rows.
    """
    attrs = [c for c in new.columns if c not in keys]
    if old is not None and set(old.columns) != set(new.columns):
        raise ValueError(
            f"snapshot schemas differ: {sorted(old.columns)} vs {sorted(new.columns)}"
        )
    reserved = {"_o", "_n", "_oc", "_nc", "_c", "_change_type"}
    # the o/n projections alias every attr to _o_<attr>/_n_<attr>; a column
    # ALREADY named like another's prefixed form (key `_o_x` beside attr `x`)
    # would duplicate a name there and die later as an opaque
    # ambiguous-reference AnalysisException — reject it by name instead
    reserved |= {f"_{s}_{a}" for s in ("o", "n") for a in attrs}
    clash = reserved & set(new.columns)
    if clash:
        raise ValueError(
            f"snapshot_changes: column names collide with internals: {sorted(clash)}"
        )

    w = Window.partitionBy(*keys)
    if old is None:
        # "from empty": every row is an insert — but the key-uniqueness
        # contract still holds (a dup/NULL key replays into a table that
        # violates it), so the same lazy guard runs on the one side present.
        bad = F.count(F.lit(1)).over(w) > 1
        for k in keys:
            bad = bad | F.col(k).isNull()
        return new.select(
            *keys,
            *attrs,
            F.when(
                bad,
                F.raise_error(
                    F.lit("snapshot_changes: duplicate or NULL key in a snapshot")
                ),
            )
            .otherwise(F.lit("insert"))
            .alias("_change_type"),
        )
    o = (
        old.select(*keys, *[F.col(a).alias(f"_o_{a}") for a in attrs])
        .withColumn("_o", F.lit(1))
        .withColumn("_oc", F.count(F.lit(1)).over(w))
    )
    n = (
        new.select(*keys, *[F.col(a).alias(f"_n_{a}") for a in attrs])
        .withColumn("_n", F.lit(1))
        .withColumn("_nc", F.count(F.lit(1)).over(w))
    )
    j = o.join(n, on=keys, how="full_outer")

    # loud duplicate-/null-key guard: lazily evaluated per row, so the
    # error fires iff a bad key actually reaches the feed.  A NULL key
    # never equi-joins, so a null-key row would silently split into a
    # delete+insert pair — ill-defined for a keyed table, hence the raise.
    dup = (F.coalesce(F.col("_oc"), F.lit(0)) > 1) | (
        F.coalesce(F.col("_nc"), F.lit(0)) > 1
    )
    for k in keys:
        dup = dup | F.col(k).isNull()

    def image(tag: str, side: str):
        return F.struct(
            F.lit(tag).alias("_change_type"),
            *[F.col(f"_{side}_{a}").alias(a) for a in attrs],
        )

    same = None
    for a in attrs:
        eq = F.col(f"_o_{a}").eqNullSafe(F.col(f"_n_{a}"))
        same = eq if same is None else (same & eq)
    if same is None:  # key-only table: presence IS the payload
        same = F.lit(True)

    empty = F.array().cast(
        f"array<struct<_change_type:string,{','.join(f'{a}:{new.schema[a].dataType.simpleString()}' for a in attrs)}>>"
        if attrs
        else "array<struct<_change_type:string>>"
    )
    changes = (
        F.when(
            dup,
            F.raise_error(
                F.lit("snapshot_changes: duplicate or NULL key in a snapshot")
            ),
        )
        .when(F.col("_o").isNull(), F.array(image("insert", "n")))
        .when(F.col("_n").isNull(), F.array(image("delete", "o")))
        .when(
            ~same,
            F.array(image("update_preimage", "o"), image("update_postimage", "n")),
        )
        .otherwise(empty)
    )
    ex = j.select(*keys, F.explode(changes).alias("_c"))
    return ex.select(
        *keys, *[F.col(f"_c.{a}").alias(a) for a in attrs], F.col("_c._change_type").alias("_change_type")
    )


def table_changes(
    spark: SparkSession,
    root: str,
    keys: list[str],
    v_from: int,
    v_to: int | None = None,
) -> DataFrame:
    """Change feed of a committed table between versions `v_from` → `v_to`
    (default: latest).  `v_from=0` reads "from empty" — the whole `v_to`
    snapshot arrives as inserts.  Adds `_from_version`/`_commit_version`
    so consumers can checkpoint their read position."""
    v_to = latest_committed_version(root) if v_to is None else v_to
    if v_from > v_to:
        raise ValueError(f"v_from={v_from} is past v_to={v_to}")
    new = read_version(spark, root, v_to) if v_to > 0 else None
    if new is None:
        raise ValueError("table has no committed snapshot to diff against")
    old = read_version(spark, root, v_from) if v_from > 0 else None
    feed = snapshot_changes(old, new, keys)
    return feed.select(
        "*",
        F.lit(v_from).alias("_from_version"),
        F.lit(v_to).alias("_commit_version"),
    )
