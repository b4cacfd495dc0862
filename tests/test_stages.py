"""Unit tests for the Arrow-batched Python stages (multimodal.map_payloads
and its callers): external tools, archives, multimodal.

These stages are rows-only at the driver gate (no SQL oracle), so their
determinism and failure handling are pinned here instead.
"""

from __future__ import annotations

import io
import tarfile
import zipfile

from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_scripts_spark.operators import external, multimodal


def _items(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def test_map_payloads_row_law_and_typing(spark):
    """One input row yields 0, 1 or 3 output rows; a NULL binary payload
    reaches the law as b"" and a NULL id as None; None is NULL in an int
    column and a dict is a map value (the pdf_metadata `rin_map` shape)."""
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n", T.IntegerType()),
            T.StructField("m", T.MapType(T.StringType(), T.StringType())),
        ]
    )

    def rows(did, b):
        # the payload names its own fan-out: b"0" none, b"3" three,
        # b"" one (and bytes only: a None payload would raise here)
        k = int(b) if b else 1
        return [(did, None if i == 1 else i, {"b": repr(b)}) for i in range(k)]

    df = _items(
        spark,
        [(1, bytearray(b"0")), (2, None), (3, bytearray(b"3")), (None, bytearray(b""))],
        "doc_id LONG, payload BINARY",
    )
    out = multimodal.map_payloads(df, "doc_id", "payload", schema, rows)
    assert out.schema == schema
    got = sorted(
        (tuple(r) for r in out.collect()), key=lambda r: (r[0] is None, r[0] or 0, r[1] or 0)
    )
    assert got == [
        (2, 0, {"b": "b''"}),
        (3, 0, {"b": "b'3'"}),
        (3, None, {"b": "b'3'"}),
        (3, 2, {"b": "b'3'"}),
        (None, 0, {"b": "b''"}),
    ]
    # a batch whose every row yields nothing is a typed empty batch
    none = _items(
        spark, [(1, bytearray(b"0")), (2, bytearray(b"0"))], "doc_id LONG, payload BINARY"
    ).coalesce(1)
    assert multimodal.map_payloads(none, "doc_id", "payload", schema, rows).collect() == []


def test_tool_stage_null_input_is_none(spark):
    """The tool input is a string column, so a NULL reaches the law as
    None (not b"") and renders as str(None)."""
    df = _items(spark, [(1, None)], "item_id LONG, input STRING")
    out = external.run_tool_stage(df, ["conv", "{}"], dryrun=True).collect()
    assert [(r.item_id, r.status, r.output) for r in out] == [(1, "dryrun", "conv None")]


def test_tool_dryrun_is_deterministic(spark):
    df = _items(spark, [(1, "a.raw"), (2, "b.raw")], "item_id LONG, input STRING")
    out = external.run_tool_stage(df, ["conv", "{}", "--out"], dryrun=True)
    rows = {r.item_id: r for r in out.collect()}
    assert rows[1].status == "dryrun" and rows[1].output == "conv a.raw --out"
    assert rows[2].output == "conv b.raw --out"


def test_tool_live_echo_and_missing_binary(spark):
    df = _items(spark, [(1, "hello")], "item_id LONG, input STRING")
    ok = external.run_tool_stage(df, ["echo", "{}"]).collect()[0]
    assert ok.status == "ok" and ok.output == "hello"
    missing = external.run_tool_stage(
        df, ["no-such-binary-xyz", "{}"]
    ).collect()[0]
    assert missing.status == "error" and "not found" in missing.output


def test_unpack_archives_zip_and_tar(spark):
    zbuf = io.BytesIO()
    with zipfile.ZipFile(zbuf, "w") as z:
        z.writestr("a/x.txt", "xxxx")
        z.writestr("b.bin", "12")
    tbuf = io.BytesIO()
    with tarfile.open(fileobj=tbuf, mode="w") as t:
        data = b"yyy"
        info = tarfile.TarInfo("inner.dat")
        info.size = len(data)
        t.addfile(info, io.BytesIO(data))
    df = _items(
        spark,
        [(1, bytearray(zbuf.getvalue())), (2, bytearray(tbuf.getvalue()))],
        "item_id LONG, payload BINARY",
    )
    rows = sorted(
        external.unpack_archives(df).collect(), key=lambda r: (r.item_id, r.member)
    )
    assert [(r.item_id, r.member, r.n_bytes) for r in rows] == [
        (1, "a/x.txt", 4),
        (1, "b.bin", 2),
        (2, "inner.dat", 3),
    ]


def test_image_header_parser_fixture_bytes():
    """parse_image_header reads real container headers (stdlib struct)."""
    import struct as _s
    import zlib as _z

    # PNG: signature + IHDR, CRC computed — as a writer would emit it
    body = b"IHDR" + _s.pack(">II", 640, 480) + b"\x08\x02\x00\x00\x00"
    png = b"\x89PNG\r\n\x1a\n" + _s.pack(">I", 13) + body + _s.pack(">I", _z.crc32(body))
    assert multimodal.parse_image_header(png) == ("png", 640, 480)

    # JPEG: APP0 before SOF2 (progressive) — the marker walk must skip APP0
    app0 = b"\xff\xe0" + _s.pack(">H", 16) + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
    sof2 = b"\xff\xc2" + _s.pack(">H", 17) + b"\x08" + _s.pack(">HH", 33, 44) + b"\x03" + b"\x00" * 9
    assert multimodal.parse_image_header(b"\xff\xd8" + app0 + sof2 + b"\xff\xd9") == ("jpeg", 44, 33)

    assert multimodal.parse_image_header(b"GIF87a" + _s.pack("<HH", 12, 34) + b"\x00\x00\x00;") == ("gif", 12, 34)
    # BMP with top-down (negative) height
    bmp = b"BM" + b"\x00" * 16 + _s.pack("<ii", 320, -200) + b"\x00" * 10
    assert multimodal.parse_image_header(bmp) == ("bmp", 320, 200)

    assert multimodal.parse_image_header(b"") == ("unknown", None, None)
    assert multimodal.parse_image_header(b"not an image at all") == ("unknown", None, None)
    # truncated JPEG: SOI then garbage-free EOI — no SOF, dims unknown
    assert multimodal.parse_image_header(b"\xff\xd8\xff\xd9") == ("jpeg", None, None)
    # truncated JPEG ending in trailing 0xFF fill bytes: the marker walk
    # must stop at the boundary, not read past the payload
    assert multimodal.parse_image_header(b"\xff\xd8\xff\xff") == ("jpeg", None, None)
    assert multimodal.parse_image_header(b"\xff\xd8\xff\xff\xff") == ("jpeg", None, None)

    # JPEG with inter-segment 0xFF fill bytes and standalone TEM/RST markers
    # (both length-less) before the SOF — spec-valid, must not abort the walk
    sof0 = b"\xff\xc0" + _s.pack(">H", 17) + b"\x08" + _s.pack(">HH", 7, 9) + b"\x03" + b"\x00" * 9
    padded = b"\xff\xd8" + b"\xff" * 3 + b"\xff\x01" + b"\xff\xd0" + app0 + b"\xff\xff" + sof0 + b"\xff\xd9"
    assert multimodal.parse_image_header(padded) == ("jpeg", 9, 7)

    # BMP with the legacy 12-byte BITMAPCOREHEADER: u16 dims at offset 18
    core = b"BM" + b"\x00" * 12 + _s.pack("<I", 12) + _s.pack("<HH", 111, 222) + b"\x00" * 8
    assert multimodal.parse_image_header(core) == ("bmp", 111, 222)


def test_pixel_codec_roundtrip():
    """Encode → decode is the identity for every container variant; PNG
    fixtures cycle all five row filters, BMP is bottom-up with padding."""
    import struct as _s
    import zlib

    import numpy as np

    for did in range(24):  # covers bmp / png-gray / png-rgb × filter phases
        fmt, img = multimodal.decode_image_pixels(
            multimodal.synthetic_pixel_image_bytes(did)
        )
        exp = multimodal._pixel_pattern(did)
        assert img is not None and fmt == ("bmp" if did % 3 == 0 else "png")
        assert img.shape[:2] == exp.shape
        assert all((img[:, :, c] == exp).all() for c in range(img.shape[2]))
    # undecodable inputs flow through as None, never raise
    assert multimodal.decode_png_pixels(b"\x89PNG\r\n\x1a\njunk") is None
    assert multimodal.decode_bmp_pixels(b"BMjunk") is None
    assert multimodal.decode_image_pixels(b"\xff\xd8\xff\xd9")[1] is None
    # 16-bit / paletted / interlaced PNG: declared unsupported → None
    ihdr = b"IHDR" + _s.pack(">II", 4, 4) + b"\x10\x00\x00\x00\x00"
    png16 = (
        b"\x89PNG\r\n\x1a\n" + _s.pack(">I", 13) + ihdr
        + _s.pack(">I", zlib.crc32(ihdr))
    )
    assert multimodal.decode_png_pixels(png16) is None

    # nearest-neighbor resize law on a known pattern
    src = multimodal.synthetic_pixel_image_bytes(5)  # png-rgb, w=13, h=15
    _f, full = multimodal.decode_image_pixels(src)
    h, w, _c = full.shape
    xs = (np.arange(16) * w) // 16
    ys = (np.arange(16) * h) // 16
    expected = full[ys][:, xs]
    assert expected.shape == (16, 16, full.shape[2])


def test_synthetic_image_roundtrip():
    """Generator and parser agree for every container the fixture emits."""
    for doc_id in range(12):
        payload = multimodal.synthetic_image_bytes(doc_id)
        fmt, w, h = multimodal.parse_image_header(payload)
        assert fmt == ["png", "jpeg", "gif"][doc_id % 3]
        assert w == 16 + doc_id % 512
        assert h == 16 + (doc_id * 7) % 512
        assert len(payload) == {"png": 33, "jpeg": 41, "gif": 14}[fmt]


def test_decode_image_meta_on_mixed_payloads(spark):
    df = _items(spark, [(0, "a"), (1, "b"), (2, "c")], "doc_id LONG, text STRING")
    out = {
        r.doc_id: (r.format, r.width, r.height, r.n_bytes)
        for r in multimodal.decode_image_meta(
            multimodal.payload_source(df, "doc_id", multimodal.synthetic_image_bytes)
        ).collect()
    }
    assert out[0] == ("png", 16, 16, 33)
    assert out[1] == ("jpeg", 17, 23, 41)
    assert out[2] == ("gif", 18, 30, 14)
    # non-image payloads flow through as unknown, not an executor error
    raw = multimodal.decode_image_meta(multimodal.with_binary_payload(df)).collect()
    assert all(r.format == "unknown" and r.width is None for r in raw)


def test_feature_extraction_shape_and_determinism(spark):
    df = _items(spark, [(1, "abc"), (2, "")], "doc_id LONG, text STRING")
    payload = multimodal.with_binary_payload(df)
    out = {r.doc_id: r.feature for r in multimodal.extract_features(payload).collect()}
    assert len(out[1]) == 16 and abs(sum(out[1]) - 1.0) < 1e-9
    assert out[2] == [0.0] * 16
    again = {r.doc_id: r.feature for r in multimodal.extract_features(payload).collect()}
    assert out == again


def test_frame_sample_fanout(spark):
    df = _items(spark, [(7, "0123456789abcdef")], "doc_id LONG, text STRING")
    frames = multimodal.sample_frames(
        multimodal.with_binary_payload(df), n_frames=4
    ).collect()
    assert len(frames) == 4
    assert [f.frame_offset for f in sorted(frames, key=lambda f: f.frame_idx)] == [0, 4, 8, 12]
    assert all(len(f.frame_bytes) == 4 for f in frames)


def test_resize_contract_raises(spark):
    df = _items(spark, [(1, "x")], "doc_id LONG, text STRING")
    out = multimodal.resize_image(multimodal.with_binary_payload(df))
    try:
        out.collect()
        raise AssertionError("expected NotImplementedError surface")
    except Exception as exc:  # Py4J wraps the executor-side error
        assert "NotImplementedError" in str(exc) or "resize" in str(exc)


def test_resize_byte_sum_fused_matches_chained(spark):
    """The fused decode→resize→sum stage is value-identical to
    resized_byte_sum(resize_image(...)) — one Arrow crossing instead of
    three, same arithmetic (the optimization must not change the law).
    Includes an UNDECODABLE payload row: both paths must yield NULL
    channels/res_sum for it, not an executor error (the NULL-decode
    branch was previously untested — ADVICE r13)."""
    df = spark.range(40).select(F.col("id").alias("doc_id"))
    pay = multimodal.payload_source(
        df, "doc_id", multimodal.synthetic_pixel_image_bytes
    ).unionByName(
        spark.createDataFrame(
            [(999, bytearray(b"\xff\xfenot-an-image-payload"))],
            "doc_id long, payload binary",
        )
    )
    chained = {
        r.doc_id: (r.out_w, r.out_h, r.channels, r.res_sum)
        for r in multimodal.resized_byte_sum(
            multimodal.resize_image(pay, width=16, height=16)
        ).collect()
    }
    fused = {
        r.doc_id: (r.out_w, r.out_h, r.channels, r.res_sum)
        for r in multimodal.resize_byte_sum(pay, width=16, height=16).collect()
    }
    assert fused == chained and len(fused) == 41
    assert fused[999] == (16, 16, None, None)


def test_staged_write_publishes_atomically(spark, tmp_path):
    from etl_scripts_spark.sinks.files import export_tsv, staged_write

    df = spark.range(10).withColumnRenamed("id", "n")
    dest = str(tmp_path / "out.parquet")
    assert staged_write(df, dest) == dest
    assert spark.read.parquet(dest).count() == 10
    import os
    assert not [d for d in os.listdir(tmp_path) if "staging" in d]
    try:
        staged_write(df, dest)
        raise AssertionError("expected FileExistsError on republish")
    except FileExistsError:
        pass
    tsv = str(tmp_path / "export.tsv")
    export_tsv(df, tsv)
    back = spark.read.options(sep="\t", header=True).csv(tsv)
    assert back.count() == 10


def test_connected_components_path_graph(spark):
    """A 6-node path graph (diameter 5) forces several propagation rounds;
    plus a disjoint triangle and an isolated pair."""
    from etl_scripts_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),   # path: all -> 1
         (10, 11), (11, 12), (10, 12),             # triangle -> 10
         (20, 21)],                                # pair -> 20
        "id_a long, id_b long",
    )
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}


def test_asof_join_semantics(spark):
    """Inclusive at equal ts; nulls when no preceding right row; a matched
    row's legitimately-null field must NOT be replaced by an older row's
    value (struct carry, not per-column carry)."""
    from etl_scripts_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 101), (1, 5, 102), (2, 50, 103)],
        "k long, ts long, lid long",
    ).select("lid", "k", "ts")
    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 15, None), (3, 1, 9.9)],
        "k long, ts long, v double",
    )
    out = {
        r["lid"]: (r["ts_matched"], r["v_matched"])
        for r in asof_join(left, right, on="ts", by="k").collect()
    }
    assert out[100] == (10, 1.0)      # equal ts matches (inclusive)
    assert out[101] == (15, None)     # latest row wins; its null v stays null
    assert out[102] == (None, None)   # nothing precedes ts=5
    assert out[103] == (None, None)   # key 2 has no right rows at all


def test_simhash_pair_count_grows_linearly(spark):
    """The linear-growth law the 64-bit signature buys: duplicating each of
    n mutually-unrelated random docs exactly once yields exactly n pairs
    (one per twin, hamming 0) — and doubling n doubles the pair count.
    The retired 16-bit signature fails this: its saturated space made
    unrelated docs collide within the hamming budget, so pair output grew
    quadratically with corpus size."""
    import random

    from etl_scripts_spark.operators.text import simhash_near_dup_pairs

    rng = random.Random(20260813)
    vocab = [f"tok{i:04d}" for i in range(4000)]

    def corpus(n):
        rows = []
        for i in range(n):
            words = rng.sample(vocab, 30)
            body = " ".join(words)
            rows.append((2 * i, body))
            rows.append((2 * i + 1, body))  # exact twin
        return spark.createDataFrame(rows, "doc_id long, text string")

    small = simhash_near_dup_pairs(corpus(60)).collect()
    large = simhash_near_dup_pairs(corpus(120)).collect()
    assert len(small) == 60 and all(r.hamming == 0 for r in small)
    assert len(large) == 120 and all(r.hamming == 0 for r in large)


def test_ntile_buckets_matches_builtin(spark):
    """The distributed NTILE (range partition + local rank + broadcast
    offsets) must equal the builtin single-partition ntile, including the
    remainder law (first n%k buckets get the extra row) — pinned on a
    7-row frame (7 = 4*1+3) and a 500-row frame across several k."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from etl_scripts_spark.operators.windows import ntile_buckets

    for n, k in [(7, 4), (500, 4), (10, 3), (5, 8)]:
        df = spark.range(n).select(
            F.col("id"), (F.col("id") * 37 % 11).alias("score")
        )
        got = {
            r.id: r.bucket
            for r in ntile_buckets(df, ["score", "id"], n_buckets=k).collect()
        }
        want = {
            r.id: r.b
            for r in df.select(
                "id", F.ntile(k).over(Window.orderBy("score", "id")).alias("b")
            ).collect()
        }
        assert got == want, f"n={n} k={k}"


def test_bpe_merges_matches_reference(spark):
    """The distributed BPE trainer must equal a plain-Python reference of
    the same round law (pair counts weighted by word freq, argmax with
    (count desc, pair asc) tie-break, space-padded replace x4 — Python
    str.replace has exactly the engines' leftmost-nonoverlapping
    semantics).  The corpus includes a self-overlapping run ('aaaa') to
    pin the multi-pass replace behavior."""
    import collections

    from etl_scripts_spark.operators.corpus import bpe_merges

    texts = ["banana banana aaaa", "abab abab banana"]
    freq = collections.Counter(w for t in texts for w in t.split())
    seg = {w: " ".join(w) for w in freq}
    expect = []
    for r in range(3):
        pc = collections.Counter()
        for w, f in freq.items():
            syms = seg[w].split(" ")
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += f
        (a, b), c = sorted(pc.items(), key=lambda kv: (-kv[1], f"{kv[0][0]} {kv[0][1]}"))[0]
        expect.append((r + 1, f"{a} {b}", a + b, c))
        pat, rep = f" {a} {b} ", f" {a + b} "
        for w in seg:
            s = f" {seg[w]} "
            for _ in range(4):
                s = s.replace(pat, rep)
            seg[w] = s.strip()

    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = [
        (r.merge_rank, r.pair, r.merged, r.pair_count)
        for r in bpe_merges(df).orderBy("merge_rank").collect()
    ]
    assert got == expect


def test_ms_route_precedence(spark):
    """Routing fork (etl_msconvert.py:822-833): immuno wins over qc wins
    over standard — an immuno-origin BSA run must route immuno."""
    from etl_scripts_spark.pipelines.ms_convert import route_incoming

    rows = [
        (1, "BSA1_Run_9.raw", "qeana18-immuno", "MS:1000"),   # immuno by origin
        (2, "MS42_QABCD001AX.raw", "plain", "MS:1000"),       # immuno by prefix
        (3, "BSA2_Run_1.raw", "plain", "MS:1000"),            # qc
        (4, "Blank3_x.raw", "plain", "MS:1000"),              # qc
        (5, "QABCD001AX.raw", "plain", "MS:1000"),            # standard
    ]
    df = spark.createDataFrame(
        rows, "arrival_id long, incoming_name string, source_dropbox string, instrument_accession string"
    )
    got = {r.arrival_id: r.route for r in route_incoming(df).collect()}
    assert got == {1: "immuno", 2: "immuno", 3: "qc", 4: "qc", 5: "standard"}


def test_ms_conflict_fork_allocates_similar_experiments(spark):
    """Instrument-conflict fork: mismatching accessions get E9<n> similar
    experiments numbered 1..k per project in arrival order; matching rows
    keep the default experiment and emit a property-update outbox row."""
    from etl_scripts_spark.pipelines.ms_convert import register_ms_batch
    from etl_scripts_spark.expressions import barcode_checksum_char
    from pyspark.sql import functions as F

    # build two valid barcodes for one project
    base = spark.createDataFrame([("QTESA001A",), ("QTESA002B",)], "c9 string")
    codes = [
        r.code
        for r in base.select(
            F.concat(F.col("c9"), barcode_checksum_char(F.col("c9"))).alias("code")
        ).collect()
    ]
    samples = spark.createDataFrame(
        [(c, "QTESA", "SPACE_1") for c in codes], "code string, project string, space string"
    )
    # registry accession for project QTESA = 'MS:100' + chr('T')%3
    reg = f"MS:100{ord('T') % 3}"
    other = "MS:1009"
    incoming = spark.createDataFrame(
        [
            (1, f"{codes[0]}.raw", "plain", reg),     # match
            (2, f"{codes[0]}.raw", "plain", other),   # conflict 1
            (3, f"{codes[1]}.raw", "plain", other),   # conflict 2
        ],
        "arrival_id long, incoming_name string, source_dropbox string, instrument_accession string",
    )
    out = register_ms_batch(incoming, samples)
    runs = {r.arrival_id: r for r in out["runs"].collect()}
    assert runs[1].conflict is False and runs[1].experiment_id.endswith("E1")
    assert runs[2].experiment_id.endswith("E91")
    assert runs[3].experiment_id.endswith("E92")
    # run numbering is per sample: arrivals 1,2 share a barcode
    assert (runs[1].run_code, runs[2].run_code) == (f"{codes[0]}_1", f"{codes[0]}_2")
    assert runs[3].run_code == f"{codes[1]}_1"
    services = [r.service for r in out["outbox"].collect()]
    assert services.count("SAMPLE_TRACKER") == 3
    assert services.count("PROPERTY_UPDATE") == 1


def test_gopher_repetition_scores_short_docs(spark):
    """A 1-word document has a segment but no bigram: it must still be
    scored (top-bigram coverage 0.0), not silently dropped — review
    finding r6.  (An empty text tokenizes to [''] — one empty segment —
    so it scores zeros too, matching the words() twin in the oracle.)"""
    from etl_scripts_spark.operators.corpus import gopher_repetition

    df = spark.createDataFrame(
        [(1, "hello"), (2, ""), (3, "a b a b a b")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in gopher_repetition(df, "text", "doc_id", seg_len=2).collect()}
    assert set(got) == {1, 2, 3}
    assert got[2].top_bigram_char_frac == 0.0
    assert got[1].top_bigram_char_frac == 0.0 and got[1].dup_seg_frac == 0.0
    # doc 3: segments ['a b','a b','a b'] all duplicated; top bigram 'a b'
    # occurs 3 times in 11 chars -> 3*3/11
    assert got[3].dup_seg_frac == 1.0
    assert got[3].top_bigram_char_frac == round(9 / 11, 4)


def test_streaming_cms_equals_batch_sketch(spark):
    """The streaming CMS (counter matrix in the state store, AvailableNow
    drain) must equal operators/sketch.cms_build over the same events
    row-for-row — the mergeable-sketch law run live."""
    from pyspark.sql import functions as F

    from etl_scripts_spark.catalog import normalize_events
    from etl_scripts_spark.operators.sketch import cms_build
    from etl_scripts_spark.streaming.windowed import (
        _CMS_D,
        _CMS_W,
        stateful_cms_available_now,
    )

    path = "/root/testdata/sf0.001/events.parquet"
    got = {
        (r.r, r.b): r.cnt
        for r in stateful_cms_available_now(spark, path).collect()
    }
    batch_events = normalize_events(spark.read.parquet(path)).filter(
        F.col("user_id").isNotNull()
    )
    expect = {
        (r.r, r.b): r.cnt
        for r in cms_build(
            batch_events.select(F.col("user_id").cast("string").alias("v")),
            "v",
            d=_CMS_D,
            w=_CMS_W,
        ).collect()
    }
    assert got == expect


def test_entity_resolution_clusters_typos_and_reorderings(spark):
    """ER pipeline: prefix blocking catches suffix typos, initials
    blocking catches token reordering, Levenshtein threshold separates
    true variants from different entities, and CC makes matching
    transitive."""
    from etl_scripts_spark.operators.er import resolve_entities

    rows = [
        (1, "Mueller GmbH"),
        (2, "Mueller GmbH."),        # suffix typo of 1
        (3, "Muellre GmbH"),          # transposition of 1
        (4, "Anna Maria"),
        (5, "Maria Anna"),            # token reorder of 4 (initials block)
        (6, "Completely Different Co"),
        (7, "Zeta Labs"),
    ]
    df = spark.createDataFrame(rows, "rec_id long, name string")
    got = {
        r.rec_id: r.entity_id
        for r in resolve_entities(df, "name", threshold=0.7).collect()
    }
    assert got.get(1) == got.get(2) == got.get(3) == 1
    assert got.get(4) == got.get(5) == 4
    assert 6 not in got and 7 not in got  # singletons stay implicit


def test_entity_resolution_hot_block_cap(spark):
    """A block shared by more records than max_block must be excluded
    from candidate generation — the quadratic-blowup guard."""
    from etl_scripts_spark.operators.er import blocking_keys, candidate_pairs

    rows = [(i, "aaa common") for i in range(30)] + [
        (100, "unique name one"),
        (101, "unique name one!"),
    ]
    df = spark.createDataFrame(rows, "rec_id long, name string")
    keys = blocking_keys(df, "name")
    cands = candidate_pairs(keys, max_block=10)
    pairs = {(r.id_a, r.id_b) for r in cands.collect()}
    assert pairs == {(100, 101)}  # the 30-strong block generated nothing


def test_entity_resolution_key_width_dials(spark):
    """Widening a saturated strategy's key restores its recall without
    raising the hot-block cap: 30 names share a 1-char initials block
    (excluded at max_block=10), but at initials_len=2 the reorder pair
    lands in a fine block and is recovered; prefix_len likewise narrows
    the prefix blocks."""
    from etl_scripts_spark.operators.er import blocking_keys, candidate_pairs

    # fillers: unique prefixes (no p: pairs) but shared 1-char initials
    # {a, m} — they saturate the i:am block together with the target pair
    rows = [(i, f"a{i:02d}q m{i:02d}q") for i in range(30)] + [
        (100, "anna maria"),
        (101, "maria anna"),
    ]
    df = spark.createDataFrame(rows, "rec_id long, name string")
    # 1-char initials: all 32 records share i:am → block excluded; the
    # reorder pair shares no prefix block → the pair is lost
    coarse = candidate_pairs(blocking_keys(df, "name"), max_block=10)
    assert (100, 101) not in {(r.id_a, r.id_b) for r in coarse.collect()}
    # 2-char initials: the pair lands alone in i:anma and is recovered
    fine = candidate_pairs(
        blocking_keys(df, "name", initials_len=2), max_block=10
    )
    assert (100, 101) in {(r.id_a, r.id_b) for r in fine.collect()}


def test_decode_video_frame_pixels_stage(spark):
    """The distributed MJPEG path: the MJPEG-AVI payload source →
    decode_video_frame_pixels equals the closed-form law per sampled
    frame, and a corrupted frame degrades to NULL stats, not a crash."""
    import numpy as np
    from pyspark.sql import functions as F

    from etl_scripts_spark.operators import multimodal

    ids = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    out = multimodal.decode_video_frame_pixels(
        multimodal.payload_source(ids, "doc_id", multimodal.synthetic_mjpeg_avi_bytes),
        n_frames=3,
    ).collect()
    assert len(out) == 12 * 3
    for r in out:
        d, src = r["doc_id"], r["src_frame"]
        assert r["n_frames"] == 2 + d % 5
        fid = d + src
        w, h = 16 + fid % 9, 16 + (3 * fid) % 9
        ch = 1 if fid % 2 == 0 else 3
        assert (r["height"], r["width"], r["channels"]) == (h, w, ch)
        x, y = np.arange(w), np.arange(h)
        v = (5 * (x[None, :] // 8) + 11 * (y[:, None] // 8) + fid) % 256
        assert r["px_sum"] == int(v.sum()) * ch
        assert r["px_min"] == int(v.min()) and r["px_max"] == int(v.max())

    # corrupt one frame's entropy data: that frame NULLs, others decode
    import pandas as pd

    payload = bytearray(multimodal.synthetic_mjpeg_avi_bytes(1))
    first = multimodal.demux_avi_frames(bytes(payload))[0]
    off = first[0]
    payload[off : off + 2] = b"XX"  # clobber the SOI marker
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1], "payload": [bytes(payload)]})
    )
    rows = multimodal.decode_video_frame_pixels(df, n_frames=3).collect()
    assert len(rows) == 3
    nulls = [r for r in rows if r["px_sum"] is None]
    decoded = [r for r in rows if r["px_sum"] is not None]
    assert len(nulls) >= 1 and len(decoded) >= 1


def test_pivot_with_explicit_values_matches_duckdb_filter_agg(spark):
    """groupBy().pivot(col, VALUES).agg(): the explicit value list keeps
    the pivot single-pass (no hidden collect-distinct job), and the
    result equals DuckDB's FILTER-aggregation formulation exactly —
    the oracle shape a pivot registration would use."""
    import duckdb
    from pyspark.sql import functions as F

    sf = "/root/testdata/sf0.001"
    orders = spark.read.parquet(f"{sf}/orders.parquet")
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    got = sorted(
        tuple(r)
        for r in orders.groupBy("o_orderstatus")
        .pivot("o_orderpriority", prios)
        .agg(F.count(F.lit(1)))
        .na.fill(0, prios)
        .collect()
    )
    con = duckdb.connect()
    filters = ", ".join(
        f"count(*) FILTER (WHERE o_orderpriority = '{p}') AS p{i}"
        for i, p in enumerate(prios)
    )
    want = sorted(
        tuple(r)
        for r in con.execute(
            f"SELECT o_orderstatus, {filters} "
            f"FROM '{sf}/orders.parquet' GROUP BY o_orderstatus"
        ).fetchall()
    )
    assert got == want



def test_resample_ffill_grid_and_carry(spark):
    """Hand-checked grid law: ticks are step multiples in
    [ceil(min/step)*step, max]; each tick carries the latest observation
    at or before it, with the observation's own ts inspectable."""
    from pyspark.sql import functions as F

    from etl_scripts_spark.operators.asof import resample_ffill

    obs = spark.createDataFrame(
        [("a", 95, 1.0), ("a", 130, 2.0), ("a", 305, 3.0), ("b", 42, 9.0)],
        "k string, ts bigint, v double",
    )
    got = {
        (r["k"], r["ts"]): (r["v_ff"], r["ts_ff"])
        for r in resample_ffill(obs, by="k", on="ts", step=100).collect()
    }
    # key b spans [42, 42]: first tick 100 > max, so no rows for b
    assert got == {
        ("a", 100): (1.0, 95),
        ("a", 200): (2.0, 130),
        ("a", 300): (2.0, 130),
    }


def test_resample_rejects_nonpositive_step(spark):
    """step=0 used to die as a raw division-by-zero and step<0 deep inside
    sequence() — both now raise the named guard, like the sibling
    interval/band join width guards."""
    import pytest as _pt

    from etl_scripts_spark.operators.asof import resample_ffill, resample_interp

    obs = spark.createDataFrame([("a", 95, 1.0)], "k string, ts bigint, v double")
    for step in (0, -100):
        with _pt.raises(ValueError, match="step must be positive"):
            resample_ffill(obs, by="k", on="ts", step=step)
        with _pt.raises(ValueError, match="step must be positive"):
            resample_interp(obs, by="k", on="ts", value_col="v", step=step)


def test_resample_ffill_no_grid_when_span_has_no_tick(spark):
    """Key b spans [42, 42] with step 100: no multiple of 100 in range,
    so no rows — keys are never extrapolated."""
    from etl_scripts_spark.operators.asof import resample_ffill

    obs = spark.createDataFrame(
        [("b", 42, 9.0), ("b", 77, 8.0)], "k string, ts bigint, v double"
    )
    assert resample_ffill(obs, by="k", on="ts", step=100).count() == 0


def test_resample_ffill_duckdb_asof_oracle_parity(spark):
    """DuckDB generate_series + native ASOF JOIN reproduces the whole
    resample exactly on seeded irregular series — the oracle a
    registration would use."""
    import random

    import duckdb

    from etl_scripts_spark.operators.asof import resample_ffill

    rng = random.Random(3)
    rows = []
    for k in "abcde":
        t = rng.randrange(50)
        for _ in range(rng.randrange(3, 12)):
            rows.append((k, t, float(rng.randrange(100))))
            t += rng.randrange(1, 90)
    obs = spark.createDataFrame(rows, "k string, ts bigint, v double")
    got = sorted(
        (r["k"], r["ts"], r["v_ff"], r["ts_ff"])
        for r in resample_ffill(obs, by="k", on="ts", step=60).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE obs(k VARCHAR, ts BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO obs VALUES (?,?,?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            """
            WITH bounds AS (
              SELECT k, ((min(ts) + 59) // 60) * 60 AS lo, max(ts) AS hi
              FROM obs GROUP BY k
            ),
            grid AS (
              SELECT k, unnest(generate_series(lo, hi, 60)) AS ts
              FROM bounds WHERE lo <= hi
            )
            SELECT g.k, g.ts, o.v, o.ts
            FROM grid g ASOF LEFT JOIN obs o
              ON g.k = o.k AND o.ts <= g.ts
            """
        ).fetchall()
    )
    assert got == want


def test_resample_interp_hand_checked_and_duckdb_parity(spark):
    """Linear interpolation between bracketing observations, exact-hit
    and endpoint guards, and parity with DuckDB's double-ASOF mirror on
    seeded irregular series."""
    import random

    import duckdb

    from etl_scripts_spark.operators.asof import resample_interp

    obs = spark.createDataFrame(
        [("a", 90, 10.0), ("a", 110, 30.0), ("a", 300, 68.0)],
        "k string, ts bigint, v double",
    )
    got = {
        (r["k"], r["ts"]): r["v_interp"]
        for r in resample_interp(obs, by="k", on="ts", value_col="v", step=100).collect()
    }
    # tick 100: between (90,10) and (110,30) -> 10 + 20*10/20 = 20
    # tick 200: between (110,30) and (300,68) -> 30 + 38*90/190 = 48
    # tick 300: exact hit on (300,68) -> prev == next guard -> 68
    assert got == {("a", 100): 20.0, ("a", 200): 48.0, ("a", 300): 68.0}

    rng = random.Random(11)
    rows = []
    for k in "pqr":
        t = rng.randrange(40)
        for _ in range(rng.randrange(4, 10)):
            rows.append((k, t, float(rng.randrange(1000))))
            t += rng.randrange(1, 120)
    big = spark.createDataFrame(rows, "k string, ts bigint, v double")
    got2 = sorted(
        (r["k"], r["ts"], r["v_interp"])
        for r in resample_interp(big, by="k", on="ts", value_col="v", step=50).collect()
    )
    con = duckdb.connect()
    con.execute("CREATE TABLE obs(k VARCHAR, ts BIGINT, v DOUBLE)")
    con.executemany("INSERT INTO obs VALUES (?,?,?)", rows)
    want = sorted(
        tuple(r)
        for r in con.execute(
            """
            WITH bounds AS (
              SELECT k, ((min(ts) + 49) // 50) * 50 AS lo, max(ts) AS hi
              FROM obs GROUP BY k
            ),
            grid AS (
              SELECT k, unnest(generate_series(lo, hi, 50)) AS ts
              FROM bounds WHERE lo <= hi
            ),
            p AS (
              SELECT g.k, g.ts, o.ts AS tp, o.v AS vp
              FROM grid g ASOF LEFT JOIN obs o ON g.k = o.k AND o.ts <= g.ts
            ),
            nx AS (
              SELECT g.k, g.ts, -o.nts AS tn, o.v AS vn
              FROM grid g ASOF LEFT JOIN
                   (SELECT k, -ts AS nts, v FROM obs) o
                ON g.k = o.k AND o.nts <= -g.ts
            )
            SELECT p.k, p.ts,
                   round(CASE WHEN nx.tn = p.tp THEN p.vp
                         ELSE p.vp + (nx.vn - p.vp) * (p.ts - p.tp)
                              / (nx.tn - p.tp) END, 6) AS v_interp
            FROM p JOIN nx ON p.k = nx.k AND p.ts = nx.ts
            """
        ).fetchall()
    )
    assert got2 == want


def test_resample_ffill_negative_timestamps(spark):
    """Pre-1970 (negative) timestamps: DIV truncates toward zero, which
    is already the ceiling for negative operands — the positive-side
    nudge must not apply, or the leading tick silently vanishes."""
    from etl_scripts_spark.operators.asof import resample_ffill

    obs = spark.createDataFrame(
        [("a", -120, 1.0), ("a", -10, 2.0)], "k string, ts bigint, v double"
    )
    got = sorted(
        (r["ts"], r["v_ff"])
        for r in resample_ffill(obs, by="k", on="ts", step=60).collect()
    )
    assert got == [(-120, 1.0), (-60, 1.0)]


def test_stateful_hll_equals_batch_registers(spark):
    """AvailableNow drain of the streaming HLL == the batch register
    table row-for-row, and therefore the estimates match exactly."""
    from etl_scripts_spark.catalog import normalize_events
    from etl_scripts_spark.operators.sketch import (
        hll_estimate,
        hll_registers,
    )
    from etl_scripts_spark.streaming.windowed import (
        _HLL_P,
        stateful_hll_available_now,
    )

    path = "/root/testdata/sf0.001/events.parquet"
    streamed = stateful_hll_available_now(spark, path)
    got = {
        (r.event_type, r.bucket): r.register for r in streamed.collect()
    }
    batch_events = (
        normalize_events(spark.read.parquet(path))
        .filter(F.col("user_id").isNotNull())
        .select("event_type", F.col("user_id").cast("string").alias("v"))
    )
    regs = hll_registers(batch_events, "event_type", "v", p=_HLL_P)
    expect = {(r.event_type, r.bucket): r.register for r in regs.collect()}
    assert got == expect
    e_s = {
        r.event_type: r.hll_distinct
        for r in hll_estimate(streamed, "event_type", p=_HLL_P).collect()
    }
    e_b = {
        r.event_type: r.hll_distinct
        for r in hll_estimate(regs, "event_type", p=_HLL_P).collect()
    }
    assert e_s == e_b
