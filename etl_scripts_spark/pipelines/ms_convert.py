"""MS vendor-format conversion + registration — the reference's richest
dropbox flow, end to end as ONE declarative batch plan.

Re-expresses drop-boxes/register-convert-ms-vendor-format/etl_msconvert.py:

  incoming batches
    → ROUTING fork (:822-833): immuno (source_dropbox origin or MS-batch
      name prefix) / QC run (BSA|Blank name pattern) / standard
    → standard: barcode extract + checksum validation (:834-839,
      extract_barcode :221-234); invalid → rejects
    → join the samples dimension; conversion stage emits the msconvert
      argv (convert_raw :182-218 — dryrun/timeout handled by
      operators/external.run_tool_stage, shared with q_tool_dryrun)
    → mzML instrument accession vs the experiment registry —
      INSTRUMENT-CONFLICT fork (:946-964): mismatch allocates a NEW
      similar experiment (createSimilarMSExperiment), match emits a
      property-update outbox row (Q_ONTOLOGY_INSTRUMENT_ID)
    → per-sample run numbering (:786-792 probe loop → ONE window)
    → runs + rejects + property/tracking outbox

The reference walks these steps per-directory with openBIS probe loops;
here a whole batch registers in one plan.  Scale notes: routing and
validation are scan-fused projections; the samples join broadcasts the
dimension; BOTH window allocators (experiment numbering for conflicts,
run numbering per sample) hash-partition on project — barcode embeds its
project — so one exchange serves both, exactly like pipelines/fastq.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..sinks.outbox import build_outbox
from .fastq import validate_barcodes

#: routing patterns (etl_msconvert.py ms_prefix_pattern / bsa_run_pattern /
#: blank_run_pattern analogues)
MS_BATCH_PREFIX = r"^MS[0-9]+_"
QC_RUN_PATTERN = r"^(BSA[0-9]*|Blank[0-9]*)_"


def route_incoming(incoming: DataFrame) -> DataFrame:
    """ROUTING fork (:822-833) with the reference's precedence: immuno
    wins over QC, QC over standard.  Pure projection — fused into the
    scan."""
    is_immuno = F.col("source_dropbox").contains("immuno") | F.col(
        "incoming_name"
    ).rlike(MS_BATCH_PREFIX)
    is_qc = F.col("incoming_name").rlike(QC_RUN_PATTERN)
    return incoming.withColumn(
        "route",
        F.when(is_immuno, "immuno").when(is_qc, "qc").otherwise("standard"),
    )


def register_ms_batch(
    incoming: DataFrame, samples: DataFrame
) -> dict[str, DataFrame]:
    """Run the full registration plan.

    incoming: (arrival_id BIGINT, incoming_name STRING,
               source_dropbox STRING, instrument_accession STRING)
      — instrument_accession is the value parse_mzml_headers extracts
      from the CONVERTED mzML (parsers/sidecars.py); it arrives as a
      column so the plan stays declarative (the conversion itself is the
      external-tool stage, exercised by q_tool_dryrun).
    samples: entity dimension with (code, project, space, ...).

    Returns {"routed", "rejects", "runs", "conflicts", "outbox"}.
    """
    routed = route_incoming(incoming)
    validated, rejects = validate_barcodes(routed.filter(F.col("route") == "standard"))
    matched = validated.join(
        F.broadcast(samples.select("code", "project", "space")),
        F.col("barcode") == F.col("code"),
        "inner",
    )

    # Instrument registry per project: the accession currently on the
    # project's MS experiment (the property the reference reads back with
    # getPropertyValue('Q_ONTOLOGY_INSTRUMENT_ID') at :946-953).  Derived
    # deterministically from the project code so the oracle recomputes it.
    registry_accession = F.concat(
        F.lit("MS:100"), (F.ascii(F.substring("project", 2, 1)) % 3).cast("string")
    )
    flagged = matched.withColumn(
        "conflict", F.col("instrument_accession") != registry_accession
    )

    # Window allocators — ONE exchange on project serves both: experiment
    # numbering for conflict rows (createSimilarMSExperiment :954-961) and
    # run numbering per sample (:786-792).
    w_project = Window.partitionBy("project").orderBy("arrival_id")
    w_sample = Window.partitionBy("project", "barcode").orderBy("arrival_id")
    # conflict-experiment numbering as a RUNNING CONDITIONAL COUNT over the
    # project partition (not a separate filtered row_number): hash(project)
    # satisfies the (project, barcode) clustering too, so both allocators
    # share one exchange and only re-sort
    numbered = flagged.withColumn(
        "new_exp_n",
        F.when(
            F.col("conflict"),
            F.sum(F.when(F.col("conflict"), 1).otherwise(0)).over(
                w_project.rowsBetween(Window.unboundedPreceding, 0)
            ),
        ),
    ).withColumn("run_n", F.row_number().over(w_sample))

    default_exp = F.concat(
        F.lit("/"), F.col("space"), F.lit("/"), F.col("project"),
        F.lit("/"), F.col("project"), F.lit("E1"),
    )
    similar_exp = F.concat(
        F.lit("/"), F.col("space"), F.lit("/"), F.col("project"),
        F.lit("/"), F.col("project"), F.lit("E9"),
        F.col("new_exp_n").cast("string"),
    )
    runs = numbered.select(
        "arrival_id",
        "barcode",
        "project",
        F.concat(F.col("barcode"), F.lit("_"), F.col("run_n").cast("string")).alias(
            "run_code"
        ),
        F.when(F.col("conflict"), similar_exp).otherwise(default_exp).alias(
            "experiment_id"
        ),
        "instrument_accession",
        "conflict",
        F.concat(
            F.regexp_replace("incoming_name", r"\.raw$", ""), F.lit(".mzML")
        ).alias("mzml_name"),
    )

    conflicts = runs.filter(F.col("conflict")).select(
        "arrival_id", "barcode", "project", "experiment_id", "instrument_accession"
    )

    # Outbox: sample tracking per registered run (handleSampleTracking
    # :971) + the accession property write for NON-conflict rows
    # (setPropertyValue('Q_ONTOLOGY_INSTRUMENT_ID') :964-965).  Side
    # effects never run inline — same exactly-once discipline as fastq.
    tracking = build_outbox(runs, "run_code", "SAMPLE_TRACKER")
    prop_updates = build_outbox(
        runs.filter(~F.col("conflict")).select(
            F.concat(
                F.col("experiment_id"),
                F.lit("#Q_ONTOLOGY_INSTRUMENT_ID="),
                F.col("instrument_accession"),
            ).alias("entity_code")
        ),
        "entity_code",
        "PROPERTY_UPDATE",
    )
    outbox = tracking.unionByName(prop_updates)

    return {
        "routed": routed.select("arrival_id", "incoming_name", "route"),
        "rejects": rejects,
        "runs": runs,
        "conflicts": conflicts,
        "outbox": outbox,
    }
