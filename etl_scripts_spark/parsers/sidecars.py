"""Checksum files, mzML headers, and run-folder structure parsing (S10-S13).

  - checksum files: '<sha256> *<relative_path>' lines
    (register-nanopore.py:200-207)
  - mzML header metadata: run startTimeStamp + instrument cvParam accession
    (etl_msconvert.py:237-280) — line-scan as filters + regexp, no XML lib
  - nanopore-style run folders: path-pattern classification into
    (measurement, barcode, kind, passfail) — the NanoporeParser library's
    behavior re-expressed relationally (register-nanopore.py:143-166)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.multimodal import map_payloads


def read_checksum_file(spark: SparkSession, path: str) -> DataFrame:
    """(sha256, relative_path) rows from a '<sha> *<path>' checksum file."""
    lines = spark.read.text(path)
    return lines.select(
        F.regexp_extract("value", r"^([0-9a-f]{64}) \*?(.*)$", 1).alias("sha256"),
        F.regexp_extract("value", r"^([0-9a-f]{64}) \*?(.*)$", 2).alias("relative_path"),
    ).filter(F.col("sha256") != "")


def parse_mzml_headers(spark: SparkSession, path: str) -> DataFrame:
    """One row: (start_timestamp, instrument_accession) from an mzML file.

    startTimeStamp: first '<run ... startTimeStamp="...">' attribute
    (parse_timestamp_easy, etl_msconvert.py:237-247).  Instrument accession:
    first cvParam accession in the <referenceableParamGroup> block that is
    not one of the generic attribute CVs (parse_instrument_accession,
    etl_msconvert.py:249-265).
    """
    lines = spark.read.text(path).withColumn("line_no", F.monotonically_increasing_id())
    ts = (
        lines.filter(F.col("value").contains("startTimeStamp="))
        .select(F.regexp_extract("value", r'startTimeStamp="([^"]+)"', 1).alias("start_timestamp"))
        .limit(1)
    )
    generic = ["MS:1000529", "MS:1000031"]  # serial number / generic instrument model
    acc = (
        lines.filter(F.col("value").contains("cvParam"))
        .select(
            F.regexp_extract("value", r'accession="(MS:[0-9]+)"', 1).alias("instrument_accession"),
            "line_no",
        )
        .filter((F.col("instrument_accession") != "") & ~F.col("instrument_accession").isin(generic))
        .orderBy("line_no")
        .limit(1)
        .drop("line_no")
    )
    return ts.crossJoin(acc)


#: nanopore-ish folder classes: fast5/fastq/pod5/bam × pass/fail/skip
RUN_FOLDER_PATTERN = r"(fast5|fastq|pod5|bam)_(pass|fail|skip)/([A-Za-z0-9_]+)/"


def classify_run_folder(listing: DataFrame, path_col: str = "path") -> DataFrame:
    """File listing → (kind, passfail, barcode) classification; rows that
    match no class keep nulls (log files etc. — filtered by blacklist P6)."""
    p = F.col(path_col)
    return listing.select(
        p.alias("path"),
        F.nullif(F.regexp_extract(p, RUN_FOLDER_PATTERN, 1), F.lit("")).alias("kind"),
        F.nullif(F.regexp_extract(p, RUN_FOLDER_PATTERN, 2), F.lit("")).alias("passfail"),
        F.nullif(F.regexp_extract(p, RUN_FOLDER_PATTERN, 3), F.lit("")).alias("barcode"),
    )


def raw_data_per_sample(classified: DataFrame) -> DataFrame:
    """Per-(barcode, kind) folder grouping (rawDataPerSample,
    register-nanopore.py:153-166): counts per pass/fail/skip."""
    return (
        classified.filter(F.col("kind").isNotNull())
        .groupBy("barcode", "kind")
        .agg(
            F.sum(F.when(F.col("passfail") == "pass", 1).otherwise(0)).alias("n_pass"),
            F.sum(F.when(F.col("passfail") == "fail", 1).otherwise(0)).alias("n_fail"),
            F.sum(F.when(F.col("passfail") == "skip", 1).otherwise(0)).alias("n_skip"),
        )
    )


PDF_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("order_number", T.StringType()),
        T.StructField("rin_map", T.MapType(T.StringType(), T.StringType())),
    ]
)


def synthetic_pdf_bytes(doc_id: int) -> bytes:
    """Deterministic spec-valid one-page PDF order sheet for doc_id.

    The content is the microarray order-sheet shape the reference scrapes
    (register-cel-dropbox.py:49-81): an 'Auftrag' order number line and a
    '<barcode> RIN: <score>' line, derived from doc_id arithmetic so a
    DuckDB oracle can predict the extraction output.  Three container
    variants keyed by doc_id % 3 exercise the extractor's real paths:
      0 — plain uncompressed content stream, one `(…) Tj` per line
      1 — the same stream FlateDecode-compressed (zlib)
      2 — text split across a `[(…) (…)] TJ` array (uncompressed)
    """
    import zlib

    order = f"A-{doc_id % 10000:04d}"
    barcode = f"Q{'ABCD'[doc_id % 4]}{'WXYZ'[(doc_id // 4) % 4]}0X{doc_id % 999:03d}A0"
    rin = f"{doc_id % 10}.{doc_id % 7}"
    variant = doc_id % 3
    if variant == 2:
        content = (
            b"BT /F1 12 Tf 72 720 Td [(Auftrag: ) (" + order.encode() + b")] TJ\n"
            b"0 -14 Td [(" + barcode.encode() + b" ) (RIN: " + rin.encode() + b")] TJ ET"
        )
    else:
        content = (
            b"BT /F1 12 Tf 72 720 Td (Auftrag: " + order.encode() + b") Tj\n"
            b"0 -14 Td (" + barcode.encode() + b" RIN: " + rin.encode() + b") Tj ET"
        )
    if variant == 1:
        body = zlib.compress(content)
        filt = b" /Filter /FlateDecode"
    else:
        body = content
        filt = b""

    objs = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Contents 4 0 R /Resources << /Font << /F1 5 0 R >> >> >>",
        b"<< /Length " + str(len(body)).encode() + filt + b" >>\nstream\n"
        + body + b"\nendstream",
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + obj + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    for off in offsets:
        out += b"%010d 00000 n \n" % off
    out += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objs) + 1, xref_at)
    )
    return bytes(out)


def extract_pdf_text(raw: bytes) -> str:
    """pdftotext, stdlib edition: pull text out of PDF content streams.

    Walks every `<<dict>> stream … endstream` object; inflates
    /FlateDecode bodies (zlib), skips other filters; then replays the
    text-showing operators — `(…) Tj` (and the `'`/`"` variants) emit one
    line each, `[(…) (…) …] TJ` concatenates its array pieces into one
    line.  Literal-string escapes (\\( \\) \\\\ \\n octal) are decoded.
    Broken or encrypted input yields '' — callers keep flowing, matching
    the reference's skip-on-parse-failure behavior.
    """
    import re
    import zlib

    stream_re = re.compile(rb"<<(.*?)>>\s*stream\r?\n(.*?)endstream", re.S)
    lit = rb"\((?:\\.|[^\\()])*\)"
    show_re = re.compile(
        rb"(?P<tj>" + lit + rb")\s*(?:Tj|'|\")|\[(?P<arr>(?:" + lit + rb"|[^\]])*)\]\s*TJ"
    )
    lit_re = re.compile(lit)
    esc_re = re.compile(rb"\\([0-7]{1,3}|.)")

    def _unescape(s: bytes) -> str:
        simple = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f"}

        def repl(m):
            g = m.group(1)
            # octal escape only when every char is 0-7: '\8'/'\9' match the
            # '.' branch and are digits, but int(g, 8) would raise — the
            # PDF spec keeps unknown escapes as the literal character.
            if g and not g.strip(b"01234567"):
                return bytes([int(g, 8) & 0xFF])
            return simple.get(g, g)

        try:
            return esc_re.sub(repl, s).decode("latin-1")
        except Exception:
            # one malformed literal must not drop the whole document's
            # text (outer handler returns '' for everything) — degrade to
            # the raw bytes of just this string.
            return s.decode("latin-1", errors="replace")

    lines: list[str] = []
    try:
        for m in stream_re.finditer(raw):
            head, body = m.group(1), m.group(2)
            if b"FlateDecode" in head:
                try:
                    body = zlib.decompress(body.strip(b"\r\n"))
                except zlib.error:
                    continue
            elif b"/Filter" in head:
                continue  # unsupported filter (DCT, LZW, …): not a text stream
            for sm in show_re.finditer(body):
                if sm.group("tj") is not None:
                    lines.append(_unescape(sm.group("tj")[1:-1]))
                else:
                    parts = [
                        _unescape(p[1:-1]) for p in lit_re.findall(sm.group("arr"))
                    ]
                    lines.append("".join(parts))
    except Exception:
        return ""
    return "\n".join(lines)


def pdf_metadata(df, id_col: str = "doc_id", bin_col: str = "payload"):
    """S11: PDF metadata scrape (microarray order number + per-barcode RIN,
    register-cel-dropbox.py:49-81) as an Arrow-batched stage
    (multimodal.map_payloads).

    Text extraction is :func:`extract_pdf_text` — a real stdlib content-
    stream parser (uncompressed + FlateDecode) — followed by the same
    regex state machine the reference runs over pdftotext output.
    """
    import re

    order_re = re.compile(r"Auftrag:\s*(\S+)")
    rin_re = re.compile(r"(Q[A-Z0-9]{4}[0-9]{3}[A-Z][A-Z0-9])\s+RIN:\s*([0-9.]+)")

    def rows(did, b):
        text = extract_pdf_text(b)
        m = order_re.search(text)
        return [(did, m.group(1) if m else None, dict(rin_re.findall(text)))]

    return map_payloads(df, id_col, bin_col, PDF_META_SCHEMA, rows)
