"""Baseline TIFF decoder (operators/tiff.py): closed-form fixture law,
hand-built big-endian RGB, PackBits vectors, WhiteIsZero inversion,
declared-seam rejection, size cap, garbage totality, and the
distributed Arrow stats path."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from etl_scripts_spark.operators.multimodal import (
    _pixel_pattern,
    decode_image_pixels,
    decode_pixel_stats,
    payload_source,
)
from etl_scripts_spark.operators.tiff import (
    TiffError,
    decode_tiff_pixels,
    packbits_decode,
    synthetic_tiff_bytes,
)


def test_fixture_closed_form_all_shapes():
    for doc_id in range(0, 30):
        img = decode_tiff_pixels(synthetic_tiff_bytes(doc_id))
        want = _pixel_pattern(doc_id)
        assert img.shape == (*want.shape, 1)
        assert np.array_equal(img[:, :, 0], want)


def _be_rgb_tiff(w, h, px):
    """Hand-built BIG-endian single-strip RGB TIFF."""
    data = px.tobytes()
    n_tags = 9
    ifd_off = 8
    data_at = ifd_off + 2 + 12 * n_tags + 4
    bps_at = data_at + len(data)

    def entry(tag, typ, count, inline=None, off=None):
        head = struct.pack(">HHI", tag, typ, count)
        if off is not None:
            return head + struct.pack(">I", off)
        size = {3: 2, 4: 4}[typ]
        packed = struct.pack(f">{count}{'H' if typ == 3 else 'I'}", *inline)
        return head + packed.ljust(4, b"\x00")

    body = struct.pack(">H", n_tags)
    body += entry(256, 3, 1, [w])
    body += entry(257, 3, 1, [h])
    body += entry(258, 3, 3, off=bps_at)  # 3 SHORTs -> external
    body += entry(259, 3, 1, [1])
    body += entry(262, 3, 1, [2])  # RGB
    body += entry(273, 4, 1, [data_at])
    body += entry(277, 3, 1, [3])
    body += entry(278, 3, 1, [h])
    body += entry(279, 4, 1, [len(data)])
    body += struct.pack(">I", 0)
    return (
        b"MM\x00*" + struct.pack(">I", ifd_off) + body + data
        + struct.pack(">3H", 8, 8, 8)
    )


def test_big_endian_rgb_roundtrip():
    px = np.arange(4 * 3 * 3, dtype=np.uint8).reshape(3, 4, 3)
    img = decode_tiff_pixels(_be_rgb_tiff(4, 3, px))
    assert np.array_equal(img, px)


def test_packbits_vectors():
    # literal run: header n-1
    assert packbits_decode(b"\x02abc", 3) == b"abc"
    # replicate run: 257 - n copies (n=0xFE -> 3 copies)
    assert packbits_decode(b"\xfeZ", 3) == b"ZZZ"
    # no-op 0x80 skipped
    assert packbits_decode(b"\x80\x00Q", 1) == b"Q"
    # mixed, clamped to expected
    assert packbits_decode(b"\x01ab\xfdx", 6) == b"abxxxx"
    with pytest.raises(TiffError):
        packbits_decode(b"\x05ab", 6)  # literal truncated
    with pytest.raises(TiffError):
        packbits_decode(b"\xfe", 3)  # replicate truncated
    with pytest.raises(TiffError):
        packbits_decode(b"\x00a", 5)  # short of strip


def test_white_is_zero_inverts():
    raw = synthetic_tiff_bytes(1)  # uncompressed (1 % 3 != 0)
    # photometric tag (262) value: flip 1 -> 0 in the IFD
    idx = raw.find(struct.pack("<HHI", 262, 3, 1))
    assert idx > 0
    patched = bytearray(raw)
    patched[idx + 8] = 0
    img = decode_tiff_pixels(bytes(patched))
    assert np.array_equal(img[:, :, 0], 255 - _pixel_pattern(1))


def test_declared_seams_raise():
    raw = bytearray(synthetic_tiff_bytes(1))

    def patched(tag, new_val):
        b = bytearray(raw)
        idx = b.index(struct.pack("<HHI", tag, 3, 1))
        b[idx + 8 : idx + 10] = struct.pack("<H", new_val)
        return bytes(b)

    with pytest.raises(TiffError, match="compression"):
        decode_tiff_pixels(patched(259, 5))  # LZW
    with pytest.raises(TiffError, match="photometric"):
        decode_tiff_pixels(patched(262, 3))  # palette
    with pytest.raises(TiffError, match="8-bit"):
        decode_tiff_pixels(patched(258, 16))
    with pytest.raises(TiffError, match="not a TIFF"):
        decode_tiff_pixels(b"garbage")


def test_size_cap_and_truncation():
    raw = bytearray(synthetic_tiff_bytes(2))
    idx = raw.index(struct.pack("<HHI", 256, 3, 1))
    big = bytearray(raw)
    big[idx + 8 : idx + 10] = struct.pack("<H", 65535)
    bidx = raw.index(struct.pack("<HHI", 257, 3, 1))
    big[bidx + 8 : bidx + 10] = struct.pack("<H", 65535)
    with pytest.raises(TiffError, match="cap"):
        decode_tiff_pixels(bytes(big))
    with pytest.raises(TiffError):
        decode_tiff_pixels(bytes(raw[: len(raw) // 2]))


def test_garbage_totality():
    rng = np.random.RandomState(4)
    for i in range(60):
        blob = b"II*\x00" + bytes(rng.randint(0, 256, size=rng.randint(4, 200), dtype=np.uint8))
        try:
            decode_tiff_pixels(blob)
        except TiffError:
            pass  # the only allowed failure mode
        # dispatch maps it to NULL-flow
        fmt, img = decode_image_pixels(blob)
        assert fmt == "tiff"


def test_distributed_stats_match_law(spark):
    ids = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    rows = decode_pixel_stats(payload_source(ids, "doc_id", synthetic_tiff_bytes)).collect()
    assert len(rows) == 40
    for r in rows:
        want = _pixel_pattern(r.doc_id).astype(np.int64)
        assert r.format == "tiff"
        assert (r.height, r.width, r.channels) == (*want.shape, 1)
        assert r.px_sum == int(want.sum())
