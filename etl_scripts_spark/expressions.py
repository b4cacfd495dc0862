"""Core column expressions: QBiC barcodes, checksums, code generation.

All pure Catalyst column expressions (JVM-side, whole-stage-codegen'd) — no
Python UDFs in the hot path.  The barcode grammar and the mod-34 checksum are
re-expressed from the reference:

  - barcode regex  Q[A-Z0-9]{4}[0-9]{3}[A-Z][A-Z0-9]
    (drop-boxes/register-fastq-dropbox/register-fastq-dropbox.py:21)
  - checksum char: sum(ord(c)*i, i=1..len) % 34 → +48, skip past '9' by +7
    (drop-boxes/register-iontorrent-data/register-iontorrent-data.py:79-94)
  - validation: checksum(code[0:9]) == code[9]
    (register-fastq-dropbox.py:39-45)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

BARCODE_REGEX = "Q[A-Z0-9]{4}[0-9]{3}[A-Z][A-Z0-9]"


def barcode_checksum_sum(code: Column) -> Column:
    """Weighted character sum: sum(ascii(c_i) * i) for 1-based position i."""
    chars = F.split(code, "")
    weights = F.sequence(F.lit(1), F.length(code))
    return F.aggregate(
        F.zip_with(chars, weights, lambda c, i: F.ascii(c) * i),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def barcode_checksum_char(code: Column) -> Column:
    """Mod-34 checksum character: 0-9 then A-X (48 + n, skipping ':'..'@')."""
    n = barcode_checksum_sum(code) % 34 + 48
    return F.char(F.when(n > 57, n + 7).otherwise(n))


def is_valid_barcode(code: Column) -> Column:
    """True iff code matches the grammar and its checksum char verifies."""
    shape_ok = code.rlike(f"^{BARCODE_REGEX}$")
    return shape_ok & (F.substring(code, 10, 1) == barcode_checksum_char(F.substring(code, 1, 9)))


def extract_barcode(name: Column) -> Column:
    """First QBiC barcode embedded in a filename ('' if none) — P1."""
    return F.regexp_extract(name, BARCODE_REGEX, 0)


def cents(value: Column) -> Column:
    """Exact integer cents of a DOUBLE amount: floor(v·100 + 0.5), BIGINT.

    The one engine-portable money law: IEEE multiply-add-floor gives the
    same integer in Spark and any SQL oracle (`floor(v * 100 + 0.5)`),
    whereas round() breaks ties half-away-from-zero in Spark and
    disagrees on negative halves.  Integer cents sum exactly under any
    reduction tree."""
    return F.floor(value * 100 + F.lit(0.5)).cast("bigint")


# --- workflow-result name destructuring (SURVEY §1.2) ---------------------

def split_wf_name(name: Column) -> dict[str, Column]:
    """'SPACE-PROJECT-EXPERIMENT-SAMPLE' positional split on '-'
    (register-wf-mapping/register-mapping-dropbox.py:40-45).

    Dash-in-space variant handled by counting from the right, like the
    reference's fix (register-wf-hlatyping/register-hlatyping.py:45-52).
    """
    parts = F.split(name, "-")
    n = F.size(parts)
    return {
        "sample": F.element_at(parts, -1),
        "experiment": F.element_at(parts, -2),
        "project": F.element_at(parts, -3),
        "space": F.array_join(F.slice(parts, 1, n - 3), "-"),
    }
