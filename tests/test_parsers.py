"""File-based parser tests on real fixture files (SURVEY §5 adopted strategy).

These exercise the readers the oracle gate can't reach (they consume files,
not the star-schema tables): TSV positional/header-driven, key=value, imgag
JSON, VCF body + ANN + header grep, mzML headers, checksum files, run-folder
classification, and PDF metadata.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_scripts_spark.operators.multimodal import payload_source
from etl_scripts_spark.parsers import metadata, sidecars, vcf


def test_immuno_ms_tsv_positional(spark, tmp_path):
    p = tmp_path / "immuno.tsv"
    p.write_text(
        "Filename\tQ_MS_DEVICE\tQ_MEASUREMENT_FINISH_DATE\tQ_EXTRACT_SHARE\t"
        "Q_ADDITIONAL_INFO\tQ_MS_LCMS_METHODS\ttechnical_replicate\tworkflow_type\n"
        "f1.raw\tQEXACTIVE\t171010\t10\tnote\tM1\tR1\twf\n"
    )
    row = metadata.read_immuno_ms_tsv(spark, str(p)).collect()[0]
    assert row.Filename == "f1.raw" and row.Q_MS_DEVICE == "QEXACTIVE"
    assert row.workflow_type == "wf"


def test_imaging_tsv_header_driven_star_null_and_validation(spark, tmp_path):
    p = tmp_path / "imaging.tsv"
    cols = list(metadata.IMAGING_REQUIRED_COLUMNS)
    p.write_text("\t".join(cols) + "\n" + "\t".join(["img/1.dcm", "CT", "*", "GE", "u1", "24.03.2019"]) + "\n")
    row = metadata.read_imaging_tsv(spark, str(p)).collect()[0]
    assert row.IMAGED_TISSUE is None  # '*' placeholder → null
    assert row.IMAGING_MODALITY == "CT"
    bad = tmp_path / "bad.tsv"
    bad.write_text("ONLY_ONE_COL\nv\n")
    try:
        metadata.read_imaging_tsv(spark, str(bad))
        raise AssertionError("expected ValueError for missing required columns")
    except ValueError as exc:
        assert "missing required" in str(exc)


def test_kv_metadata_file(spark, tmp_path):
    p = tmp_path / "metadata.txt"
    p.write_text("user=alice\ninfo=some text\nbarcode=QABCD001AE\ntype=Analysis Results\n")
    row = metadata.read_kv_metadata(spark, str(p)).collect()[0]
    assert row.user == "alice" and row.barcode == "QABCD001AE"
    assert row.attachment_kind == "RESULT"


def test_imgag_json_schema(spark, tmp_path):
    p = tmp_path / "meta.json"
    p.write_text(
        '{"files": ["a.vcf"], "type": "somatic",'
        ' "sample1": {"genome": "GRCh38", "id_qbic": "QABCD001AE",'
        '   "qc": [{"qcml_id": "QC:1", "name": "reads", "value": "100"}]}}'
    )
    row = metadata.read_imgag_metadata(spark, str(p)).collect()[0]
    assert row.type == "somatic"
    assert row.sample1.id_qbic == "QABCD001AE"
    assert row.sample1.qc[0].name == "reads"


VCF_TEXT = """##fileformat=VCFv4.2
##parametersName=OncoPanel_v3
##fileUTCtime=2017-10-10T12:00:00
#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO
chr1\t100\t.\tA\tG,T\t50\tPASS\tDP=10;ANN=G|missense_variant|MODERATE|KRAS|g1|t|t1|Coding|1/2|c.1A>G|p.Ala1Thr|1|1|1|0|
chr2\t200\t.\tC\tT\t60\tPASS\tDP=5
"""


def test_vcf_body_ann_and_header(spark, tmp_path):
    p = tmp_path / "sample.vcf"
    p.write_text(VCF_TEXT)
    body = vcf.read_vcf(spark, str(p))
    assert body.count() == 2  # '#' lines skipped
    with_ann = vcf.with_annotations(body)
    exploded = vcf.explode_annotations(with_ann).collect()
    assert len(exploded) == 1
    assert exploded[0].gene_name == "KRAS" and exploded[0].hgvs_p == "p.Ala1Thr"
    assert vcf.variants_per_gene(with_ann).collect()[0].n_variants == 1
    panel = vcf.grep_header(spark, str(p), "parametersName").collect()[0]
    assert panel.parametersName == "OncoPanel_v3"


def test_mzml_headers(spark, tmp_path):
    p = tmp_path / "run.mzML"
    p.write_text(
        '<referenceableParamGroup id="CommonInstrumentParams">\n'
        '  <cvParam accession="MS:1000529" name="instrument serial number" value="x"/>\n'
        '  <cvParam accession="MS:1002634" name="Q Exactive Plus"/>\n'
        "</referenceableParamGroup>\n"
        '<run id="r1" startTimeStamp="2017-10-10T09:30:00Z">\n'
    )
    row = sidecars.parse_mzml_headers(spark, str(p)).collect()[0]
    assert row.start_timestamp == "2017-10-10T09:30:00Z"
    assert row.instrument_accession == "MS:1002634"  # generic CVs skipped


def test_checksum_file(spark, tmp_path):
    p = tmp_path / "sums.sha256"
    sha = "a" * 64
    p.write_text(f"{sha} *data/f1.fastq.gz\nnot a checksum line\n")
    rows = sidecars.read_checksum_file(spark, str(p)).collect()
    assert len(rows) == 1
    assert rows[0].sha256 == sha and rows[0].relative_path == "data/f1.fastq.gz"


def test_run_folder_classification(spark):
    listing = spark.createDataFrame(
        [
            ("runs/fast5_pass/barcode01/x.fast5",),
            ("runs/fastq_fail/barcode01/y.fastq",),
            ("runs/other/z.log",),
        ],
        "path STRING",
    )
    rows = {r.path: r for r in sidecars.classify_run_folder(listing).collect()}
    assert rows["runs/fast5_pass/barcode01/x.fast5"].kind == "fast5"
    assert rows["runs/fastq_fail/barcode01/y.fastq"].passfail == "fail"
    assert rows["runs/other/z.log"].kind is None  # P6 blacklist path
    per = sidecars.raw_data_per_sample(sidecars.classify_run_folder(listing)).collect()
    assert {(r.barcode, r.kind, r.n_pass, r.n_fail) for r in per} == {
        ("barcode01", "fast5", 1, 0),
        ("barcode01", "fastq", 0, 1),
    }


def test_pdf_text_extraction_roundtrip():
    """All three container variants (plain Tj / FlateDecode / TJ array)
    extract to identical text; junk input degrades to '' not a raise."""
    for did in (0, 1, 2, 3, 4, 5, 300, 12345):
        text = sidecars.extract_pdf_text(sidecars.synthetic_pdf_bytes(did))
        assert text.startswith(f"Auftrag: A-{did % 10000:04d}\n"), (did, text)
        assert f" RIN: {did % 10}.{did % 7}" in text, (did, text)
    assert sidecars.extract_pdf_text(b"") == ""
    assert sidecars.extract_pdf_text(b"not a pdf at all") == ""
    # corrupt Flate body: stream skipped, no raise
    broken = sidecars.synthetic_pdf_bytes(1).replace(b"stream\n", b"stream\n\x00\x01", 1)
    assert isinstance(sidecars.extract_pdf_text(broken), str)
    # literal-string escapes decode
    esc = b"<< >>\nstream\n BT (a\\(b\\)c\\\\d\\101) Tj ET\nendstream"
    assert sidecars.extract_pdf_text(esc) == "a(b)c\\dA"


def test_pdf_metadata_real_extraction(spark):
    df = payload_source(
        spark.createDataFrame([(1,), (2,), (3,)], "doc_id LONG"),
        "doc_id",
        sidecars.synthetic_pdf_bytes,
    )
    rows = {r.doc_id: r for r in sidecars.pdf_metadata(df).collect()}
    assert rows[1].order_number == "A-0001"
    assert rows[2].rin_map == {"QCW0X002A0": "2.2"}
    assert all(len(k) == 10 for r in rows.values() for k in r.rin_map)
    again = {r.doc_id: r for r in sidecars.pdf_metadata(df).collect()}
    assert rows[1].order_number == again[1].order_number


def test_hla_typing_parse_edges(spark):
    from etl_scripts_spark.pipelines.wf_results import parse_hla_typing

    df = spark.createDataFrame(
        [
            ("QABCD001AE\tA*01:01\tA*02:01\tB*07:02\tcov\tver",),
            ("id\tonly\tcov\tver",),   # one allele
            ("id\tcov\tver",),          # zero alleles → empty typing
            ("id\tcov",),               # shorter than the fixed tail → empty
        ],
        "result_line STRING",
    )
    rows = parse_hla_typing(df).collect()
    by_typing = [(r.hla_typing, r.n_alleles) for r in rows]
    assert ("A*01:01\nA*02:01\nB*07:02", 3) in by_typing
    assert ("only", 1) in by_typing
    assert by_typing.count(("", 0)) == 2


def test_peakpick_fanout_drops_unmatched_and_renames(spark):
    from etl_scripts_spark.pipelines.wf_results import peakpick_fanout

    mz = spark.createDataFrame(
        [
            (1, 1, "run_QABCX001AF_1.mzML"),
            (1, 2, "nomatch.mzML"),          # regex finds no code → dropped
            (2, 1, "run_QZZZX002AG_1.mzML"),  # code not in samples → dropped
        ],
        "orderkey LONG, linenumber LONG, mzml_name STRING",
    )
    samples = spark.createDataFrame(
        [("QABCX001AF", "SPACE_1")], "code STRING, space STRING"
    )
    rows = peakpick_fanout(mz, samples).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.centroided_name == "centroided_run_QABCX001AF_1.mzML"
    assert r.ms_code == "MSQABCX001AF" and r.space == "SPACE_1"
    assert r.dataset_type == "Q_MS_MZML_DATA"


def test_png_palette_decode():
    """8-bit palette PNG (color type 3): filters apply to INDEX bytes, the
    PLTE lookup happens after unfiltering; out-of-range indices and a
    missing PLTE are malformed (None), not crashes."""
    import struct
    import zlib

    import numpy as np

    from etl_scripts_spark.operators.multimodal import decode_png_pixels

    def chunk(tag, data):
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    w, h = 5, 4
    palette = np.array(
        [[255, 0, 0], [0, 255, 0], [0, 0, 255], [7, 7, 7]], dtype=np.uint8
    )
    idx = (np.arange(h * w, dtype=np.uint8).reshape(h, w)) % 4
    # filter rows: 0 (None) and 2 (Up) to exercise unfilter-before-lookup
    raw = bytearray()
    prev = np.zeros(w, dtype=np.uint8)
    for y in range(h):
        f = 2 if y % 2 else 0
        raw.append(f)
        row = idx[y]
        enc = (row - prev) if f == 2 else row
        raw += bytes((int(v) & 0xFF for v in enc))
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", palette.tobytes())
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    got = decode_png_pixels(png)
    assert got is not None and got.shape == (h, w, 3)
    assert (got == palette[idx]).all()

    # malformed: index beyond palette
    bad_idx = idx.copy()
    bad_idx[0, 0] = 200
    raw2 = bytearray()
    for y in range(h):
        raw2.append(0)
        raw2 += bytes(int(v) for v in bad_idx[y])
    bad = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", palette.tobytes())
        + chunk(b"IDAT", zlib.compress(bytes(raw2)))
        + chunk(b"IEND", b"")
    )
    assert decode_png_pixels(bad) is None

    # malformed: paletted image without PLTE
    noplte = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )
    assert decode_png_pixels(noplte) is None


def test_wav_decode_8bit_and_stereo():
    """8-bit unsigned PCM maps to int16 via (x-128)<<8; stereo stays
    channel-interleaved in one flat array; 24-bit and 3-channel are None."""
    import struct

    import numpy as np

    from etl_scripts_spark.operators.multimodal import decode_wav_audio

    def wav(bits, channels, payload_bytes, rate=8000):
        fmt = struct.pack(
            "<HHIIHH", 1, channels, rate,
            rate * channels * bits // 8, channels * bits // 8, bits,
        )
        chunks = (
            b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(payload_bytes)) + payload_bytes
        )
        return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    # 8-bit mono: 0, 128, 255 -> -32768, 0, 32512
    rate, samples = decode_wav_audio(wav(8, 1, bytes([0, 128, 255])))
    assert rate == 8000 and samples.tolist() == [-32768, 0, 32512]

    # 16-bit stereo: interleaved L/R preserved in order
    pcm = np.array([100, -100, 7, -7], dtype="<i2").tobytes()
    rate, samples = decode_wav_audio(wav(16, 2, pcm))
    assert samples.tolist() == [100, -100, 7, -7]

    # unsupported: 24-bit, 3-channel
    assert decode_wav_audio(wav(24, 1, b"\x00" * 6)) is None
    assert decode_wav_audio(wav(16, 3, b"\x00" * 6)) is None
