"""External-tool stages (W10/W11): subprocess transforms as isolated
Arrow-batched stages (multimodal.map_payloads), never inside the commit path.

Re-expresses the reference's blocking in-transaction subprocess calls
(remote msconvert via ssh/rsync with a 7200 s timeout, etl_msconvert.py:
182-218,99-134; snpEff `-Xmx4g`, register-iontorrent-data.py:338-352;
unzip/gunzip/tar, register-iontorrent-data.py:277-293) as a partition-level
stage with per-call timeout, tempdir hygiene, and a dryrun mode (the
reference has one too, etl_msconvert.py:208-209).  Failures become rows in
the output (status='error'), not job aborts — the quarantine pattern.
"""

from __future__ import annotations

import shutil

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .multimodal import map_payloads

TOOL_RESULT_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("output", T.StringType()),
    ]
)


def run_tool_stage(
    df: DataFrame,
    argv_template: list[str],
    id_col: str = "item_id",
    input_col: str = "input",
    timeout_s: float = 7200.0,
    dryrun: bool = False,
) -> DataFrame:
    """Run `argv_template` once per row ('{}' replaced by the input value).

    dryrun=True skips the subprocess and emits deterministic rows — the mode
    used in tests and when the tool binary is absent (checked per executor
    via shutil.which, mirroring the reference's missing-binary handling in
    test_msconvert.py:37-50).
    """

    def rows(item_id, value):
        import subprocess
        import tempfile

        argv = [a.replace("{}", str(value)) for a in argv_template]
        if dryrun:
            return [(item_id, "dryrun", " ".join(argv))]
        if shutil.which(argv[0]) is None:
            return [(item_id, "error", f"binary not found: {argv[0]}")]
        try:
            with tempfile.TemporaryDirectory() as tmp:
                proc = subprocess.run(
                    argv, capture_output=True, text=True,
                    timeout=timeout_s, cwd=tmp,
                )
        except subprocess.TimeoutExpired:
            return [(item_id, "timeout", f"timed out after {timeout_s}s")]
        status = "ok" if proc.returncode == 0 else "error"
        return [(item_id, status, (proc.stdout or proc.stderr).strip()[:1000])]

    return map_payloads(df, id_col, input_col, TOOL_RESULT_SCHEMA, rows)


ARCHIVE_MEMBER_SCHEMA = T.StructType(
    [
        T.StructField("item_id", T.LongType()),
        T.StructField("member", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def unpack_archives(df: DataFrame, id_col: str = "item_id", bin_col: str = "payload") -> DataFrame:
    """S20: tar/zip unpack of in-flight binary payloads (register-mtb-data-
    dropbox.py:178-186).  Pure-Python stdlib codecs, so no stub needed:
    each archive member becomes a row."""

    def rows(item_id, raw):
        import io
        import tarfile
        import zipfile

        try:
            if zipfile.is_zipfile(io.BytesIO(raw)):
                with zipfile.ZipFile(io.BytesIO(raw)) as z:
                    members = [(i.filename, i.file_size) for i in z.infolist()]
            else:
                with tarfile.open(fileobj=io.BytesIO(raw)) as t:
                    members = [(m.name, m.size) for m in t if m.isfile()]
        except Exception:
            members = [("<unreadable>", 0)]
        return [(item_id, name, int(size)) for name, size in members]

    return map_payloads(df, id_col, bin_col, ARCHIVE_MEMBER_SCHEMA, rows)
