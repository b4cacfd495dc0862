"""100 TB table layout: partitioned + bucketed writes (SURVEY §7.2 step 8).

The partitioning rules the survey derives for the entity model:

  - `files` partitioned by dataset date (ingest day): every maintenance
    query (checksum backfill, path-info feeding) touches a bounded date
    range → partition pruning makes them O(day), not O(history);
  - `samples` bucketed by project: the ubiquitous barcode→sample lookups
    and the registration pipeline's sample join cluster by project, so
    bucket-pruned scans + shuffle-free joins between co-bucketed tables;
  - `events` partitioned by hour for the streaming rollups.

Bucketing requires saveAsTable (bucket metadata lives in the catalog);
partitionBy works on plain paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import literal_table


def write_files_by_day(files: DataFrame, dest: str, date_col: str = "ingest_date") -> None:
    """Partition the path-info table by ingest day (partition pruning for
    maintenance scans)."""
    files.write.partitionBy(date_col).mode("error").parquet(dest)


def write_samples_bucketed(samples: DataFrame, table: str, n_buckets: int = 64) -> None:
    """Bucket the samples dimension by project: lookups prune to one bucket,
    and joins against equally-bucketed tables skip the shuffle entirely."""
    (
        samples.write.bucketBy(n_buckets, "project")
        .sortBy("code")
        .mode("error")
        .format("parquet")
        .saveAsTable(table)
    )


def with_ingest_date(df: DataFrame, ts_col: str) -> DataFrame:
    return df.withColumn("ingest_date", F.to_date(F.col(ts_col)))


def compact(
    df: DataFrame,
    dest: str,
    target_rows_per_file: int,
    n_rows: int | None = None,
) -> None:
    """Rewrite a table with bounded file sizes — the small-files antidote.

    Dropbox-style ingestion produces one tiny file batch per arrival; after
    a year a day-partition holds thousands of KB-sized files and every scan
    pays per-file open/footer cost.  Compaction = read → repartition to
    ceil(rows/target) → write with maxRecordsPerFile as the hard upper
    bound (repartition spreads rows evenly; the option caps any residual
    skew).  Run per partition (e.g. yesterday's ingest day), never on the
    whole table.

    ``dest`` MUST be a fresh staging path — the write is mode('error') by
    design.  Compacting a live partition is stage-and-swap: write to
    ``<partition>.compacting``, then atomically rename over the old
    directory (and only then delete it).  Writing in-place over the files
    being read is never safe, so no overwrite mode is offered.

    Pass ``n_rows`` when the caller already knows the row count (e.g. from
    write metrics or parquet footer metadata via
    ``sum(file_meta.num_rows)``) to skip the extra counting scan; otherwise
    one ``df.count()`` pays for an evenly-sized layout.
    """
    if n_rows is None:
        n_rows = df.count()
    n_files = max(1, -(-n_rows // target_rows_per_file))
    (
        df.repartition(n_files)
        .write.option("maxRecordsPerFile", target_rows_per_file)
        .mode("error")
        .parquet(dest)
    )


def plan_compaction(
    files: DataFrame,
    target_bytes: int,
    path_col: str = "path",
    size_col: str = "size_bytes",
) -> DataFrame:
    """Byte-based bin packing over a FILE LISTING (no data read): assign
    every file to a merge bin of ~`target_bytes`, the planning half of
    lakehouse OPTIMIZE/compaction (the `compact` function above is the
    execute half for a single bin's rows).

    Deterministic law, so an oracle can replay it: files are totally
    ordered by (size DESC, path) — big files first, like first-fit
    decreasing — the exact global running sum of sizes is computed
    distributed (windows.global_running_sum: range partition + local
    prefix + broadcast offsets, never a single-partition sort), and

        bin_id = (running_sum - 1) DIV target_bytes

    i.e. a file belongs to the bin its END byte falls in.  Bins are
    therefore sequential fills that overshoot `target_bytes` by less
    than one file; a file larger than the target gets its own bin(s)
    id.  Returns (path, size, bin_id) — the driver of a real compactor
    groups by bin_id and hands each group to one rewrite task.
    """
    from ..operators.windows import global_running_sum

    sized = files.select(
        F.col(path_col).alias("path"),
        F.col(size_col).cast("bigint").alias("size_bytes"),
        (-F.col(size_col).cast("bigint")).alias("_negsize"),
    )
    run = global_running_sum(
        sized,
        # DESC via negation keeps global_running_sum's plain orderBy; path
        # breaks size ties to make the order total
        order_cols=["_negsize", "path"],
        sum_col="size_bytes",
        out_col="_run",
    ).withColumn("bin_id", F.expr(f"(_run - 1) DIV {int(target_bytes)}"))
    return run.select("path", "size_bytes", "bin_id")


def zorder_key(cols: list, bits: int = 16) -> "F.Column":
    """Morton (Z-order) interleave of 2+ non-negative integer columns —
    the multi-dimension clustering key Delta's OPTIMIZE ZORDER computes.

    Each input is clamped to `bits` bits, then bit j of dimension d lands
    at output bit ``j * ndims + d``, so sorting by the result interleaves
    all dimensions' locality: files written in z-key order carry TIGHT
    min/max parquet statistics on EVERY dimension simultaneously, and a
    selective predicate on ANY of them prunes files — unlike a lexicographic
    sort, whose second column's stats span the whole domain in every file.

    Pure Catalyst (shiftleft/shiftright over bigint; no UDF): the key is a
    map-side projection fused into the write's sort.  Cost model: with
    n dims at b bits, keys fit a BIGINT while ``n*b <= 63``.
    """
    n = len(cols)
    if not 2 <= n:
        raise ValueError("zorder_key needs >= 2 columns")
    if n * bits > 63:
        raise ValueError(f"{n} dims x {bits} bits exceeds a BIGINT")
    mask = (1 << bits) - 1
    out = F.lit(0).cast("bigint")
    for d, c in enumerate(cols):
        v = F.col(c).cast("bigint").bitwiseAND(F.lit(mask))
        for j in range(bits):
            out = out.bitwiseOR(
                F.shiftleft(
                    F.shiftright(v, j).bitwiseAND(F.lit(1)), j * n + d
                )
            )
    return out


def write_zordered(
    df: DataFrame, dest: str, cols: list, n_files: int, bits: int = 16
) -> None:
    """Write `df` clustered by the Z-order of `cols`: range-repartition on
    the z-key (equal-size files, no single-task sort), sort within each
    file, drop the key.  Every file then has bounded min/max on ALL of
    `cols`, so parquet row-group/file stats prune scans filtered on any
    subset of them — the layout-level answer to multi-dimension predicates
    at 100 TB, where one partition column can't serve every query."""
    keyed = df.withColumn("_z", zorder_key(cols, bits))
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("error")
        .parquet(dest)
    )


def rowgroup_stats(spark, files: list[str], column: str) -> DataFrame:
    """(file, row_group, n_rows, min_v, max_v) for a NUMERIC column, read
    from parquet FOOTERS only — the metadata every engine's data-skipping
    consults.  The driver opens each file's footer (pyarrow reads it
    without touching row data, as `catalog._footer_schema` does) and the
    rows come back as a local relation, so the report costs O(files), not
    O(bytes), and runs no Spark task — at 100 TB that is the difference
    between a metadata sweep and a full scan.

    Completes the layout trio: write_zordered produces the clustering,
    plan_compaction maintains file sizes, and this MEASURES what those
    bought — the fraction of row groups a predicate can skip.  DuckDB's
    parquet_metadata() reads the same footers, so the law is oracle-able.
    """
    import pyarrow.parquet as pq

    out = []
    for f in files:
        md = pq.ParquetFile(f.removeprefix("file:")).metadata
        idx = md.schema.names.index(column)
        for rg in range(md.num_row_groups):
            grp = md.row_group(rg)
            st = grp.column(idx).statistics
            # all-null chunks write statistics with has_min_max
            # False (st.min is None) — statless, must-read
            no_stats = st is None or not st.has_min_max
            lo, hi = (None, None) if no_stats else (float(st.min), float(st.max))
            out.append((f, rg, grp.num_rows, lo, hi))
    return literal_table(
        spark, out, "file string, row_group int, n_rows bigint, min_v double, max_v double"
    )


def skipping_report(stats: DataFrame, lo: float, hi: float) -> DataFrame:
    """Per-file data-skipping effectiveness for `col BETWEEN lo AND hi`:
    a row group is prunable when its footer range cannot intersect the
    predicate (max < lo or min > hi); statless groups count as must-read
    (exactly how engines treat missing statistics).  Returns
    (file, n_rowgroups, n_skipped, rows_total, rows_skipped)."""
    skippable = (
        F.col("min_v").isNotNull()
        & F.col("max_v").isNotNull()
        & ((F.col("max_v") < F.lit(lo)) | (F.col("min_v") > F.lit(hi)))
    )
    return stats.groupBy("file").agg(
        F.count("*").alias("n_rowgroups"),
        F.sum(skippable.cast("bigint")).alias("n_skipped"),
        F.sum("n_rows").alias("rows_total"),
        F.sum(F.when(skippable, F.col("n_rows")).otherwise(F.lit(0))).alias(
            "rows_skipped"
        ),
    )
