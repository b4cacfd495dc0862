"""Transactional-outbox pattern for external side effects (W6-W8).

The reference calls the sample-tracking REST service, SMTP, CentraXX, and
OMERO *inside* the registration path with inline retry loops
(register-fastq-dropbox.py:132-145 — 3 attempts, 1 s backoff, replicated in
~15 scripts).  At scale that couples throughput to external-service latency
and breaks exactly-once.  Here every side effect is first written as an
outbox row in the same commit as the data; a notifier outside the data
path drains it with retry — the effect happens at-least-once, is
idempotent by entity code, and never blocks the data path.  This module
builds the rows; delivery is not part of the engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_outbox(entity_codes: DataFrame, code_col: str, service: str) -> DataFrame:
    return entity_codes.select(
        F.col(code_col).alias("entity_code"),
        F.lit(service).alias("service"),
        F.lit("PENDING").alias("status"),
        F.lit(0).alias("attempts"),
    )

