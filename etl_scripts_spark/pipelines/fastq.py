"""FASTQ registration — the canonical dropbox pipeline, end to end.

Re-expresses drop-boxes/register-fastq-dropbox/register-fastq-dropbox.py as
one declarative plan:

  incoming file events
    → barcode extract from name (P1, :61) + checksum validation (P2, :39-45)
    → join the samples dimension (J1, :68-73); invalid/unknown → rejects
    → allocate NGS run-sample codes per parent sample (N2, :114)
    → derive experiment numbering per project (N1, :100-110)
    → emit new run-sample rows + dataset attachments + tracking outbox (W1/W2/W6)

The reference does this one directory at a time with mutable probe loops; here
a whole batch registers in one plan: the window-based allocator partitions by
parent barcode / project, so 1000 executors allocate IDs without coordination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..expressions import extract_barcode, is_valid_barcode
from ..operators.numbering import experiment_code, run_sample_code
from ..sinks.outbox import build_outbox


def validate_barcodes(incoming: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The barcode intake every dropbox shares: extract the first barcode
    from `incoming_name` (P1, :61) and verify its checksum (P2, :39-45).

    Returns (validated, rejects): the rows whose barcode verifies, with
    `barcode` added, and (arrival_id, incoming_name, reason) rows for the
    rest, reason 'INVALID_BARCODE'.  A pure projection and filter, fused
    into the scan."""
    extracted = incoming.withColumn("barcode", extract_barcode(F.col("incoming_name")))
    validated = extracted.withColumn("valid", is_valid_barcode(F.col("barcode")))
    rejects = validated.filter(~F.col("valid")).select(
        "arrival_id", "incoming_name", F.lit("INVALID_BARCODE").alias("reason")
    )
    return validated.filter(F.col("valid")), rejects


def register_fastq_batch(incoming: DataFrame, samples: DataFrame) -> dict[str, DataFrame]:
    """Run the registration plan.

    incoming: (arrival_id BIGINT, incoming_name STRING)
    samples:  entity dimension with (code, project, space, custkey, ...)

    Returns {"runs", "rejects", "datasets", "outbox"} DataFrames.
    """
    validated, rejects = validate_barcodes(incoming)
    matched = validated.join(
        samples.select("code", "project", "space"), F.col("barcode") == F.col("code"), "inner"
    )

    # N1: experiment numbering per project over the batch.
    w_project = Window.partitionBy("project").orderBy("arrival_id")
    # N2: run numbering per parent sample; first run carries no number.
    # Partitioned by (project, barcode) — barcode embeds its project
    # (substring 1..5), so the groups are identical to partitionBy(barcode),
    # but hash-partitioning on project alone satisfies the clustering
    # requirement: the plan reuses the w_project exchange and only re-sorts,
    # ONE shuffle for both allocators instead of two.
    w_sample = Window.partitionBy("project", "barcode").orderBy("arrival_id")
    runs = (
        matched.withColumn("exp_n", F.row_number().over(w_project))
        .withColumn("run_n", F.row_number().over(w_sample))
        .select(
            "arrival_id",
            run_sample_code("NGS", F.col("run_n"), F.col("barcode")).alias("run_code"),
            F.col("barcode").alias("parent_code"),
            F.col("project"),
            F.concat(
                F.lit("/"), F.col("space"), F.lit("/"), F.col("project"), F.lit("/"),
                experiment_code(F.col("project"), F.col("exp_n")),
            ).alias("experiment_id"),
            F.lit("Q_NGS_SINGLE_SAMPLE_RUN").alias("type"),
        )
    )

    datasets = runs.select(
        F.concat(F.lit("DS-NGS-"), F.col("arrival_id").cast("string")).alias("dataset_code"),
        F.col("run_code").alias("sample_code"),
        F.col("experiment_id"),
        F.lit("Q_NGS_RAW_DATA").alias("type"),
    )

    # W6 as an outbox (exactly-once side effects — never inline REST calls).
    outbox = build_outbox(runs, "run_code", "SAMPLE_TRACKER")
    return {"runs": runs, "rejects": rejects, "datasets": datasets, "outbox": outbox}
