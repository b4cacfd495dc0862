"""Baseline GIF decode (operators/gif.py): hand-built dynamic LZW streams
(dictionary growth, KwKwK, width bump, deferred clear), interlace
reordering, the closed-form fixture law, malformed-input rejection,
garbage totality, and the decode_image_pixels dispatch."""

from __future__ import annotations

import struct

import pytest

from etl_scripts_spark.operators.gif import (
    GifError,
    decode_gif_pixels,
    lzw_decode,
    synthetic_gif_bytes,
)


def _pack_var(codes_widths):
    """LSB-first packing of (code, width) pairs — the test-side encoder
    for streams whose width grows mid-stream."""
    acc = nbits = 0
    out = bytearray()
    for c, w in codes_widths:
        acc |= c << nbits
        nbits += w
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_lzw_dynamic_dictionary_and_kwkwk():
    """Classic [1,1,1,2] stream: encoder emits 1, then the JUST-DEFINED
    code 6 (the KwKwK case — the decoder must synthesize prev+prev[0]),
    then 2; entry 7's append fills the table to 8 = 2^3, so EOI arrives
    at the bumped 4-bit width."""
    data = _pack_var([(4, 3), (1, 3), (6, 3), (2, 3), (5, 4)])
    assert lzw_decode(data, 2, 10) == [1, 1, 1, 2]


def test_lzw_clear_resets_dictionary():
    # after a mid-stream CLEAR, code 6 is out of range again
    data = _pack_var([(4, 3), (1, 3), (1, 3), (4, 3), (6, 3)])
    with pytest.raises(GifError, match="out of range"):
        lzw_decode(data, 2, 10)


def test_lzw_output_bounded_by_declared_size():
    data = _pack_var([(4, 3), (1, 3), (6, 3), (2, 3), (5, 4)])
    with pytest.raises(GifError, match="exceeds"):
        lzw_decode(data, 2, 2)


def test_lzw_truncated_stream_returns_prefix():
    data = _pack_var([(4, 3), (1, 3)])
    assert lzw_decode(data, 2, 10) == [1]


def test_fixture_closed_form_pixels():
    """Every fixture pixel equals the palette entry of
    p(i) = (13·d + 7i) mod 16 — including the interlaced docs (d % 3 == 0),
    whose 4-pass stream must deinterlace back to row-major."""
    for d in (0, 1, 2, 3, 7, 11, 30):
        img = decode_gif_pixels(synthetic_gif_bytes(d))
        w, h = 8 + d % 8, 8 + (d * 3) % 8
        assert img.shape == (h, w, 3)
        for i in (0, 1, w, w * h - 1):
            j = (13 * d + 7 * i) % 16
            y, x = divmod(i, w)
            assert tuple(img[y, x]) == (
                (17 * j + d) % 256,
                (23 * j + 2 * d) % 256,
                (29 * j + 3 * d) % 256,
            )


def test_extension_blocks_are_skipped():
    raw = bytearray(synthetic_gif_bytes(1))
    # splice a GCE extension right before the image descriptor
    at = raw.index(0x2C, 13 + 48)
    gce = b"\x21\xf9\x04\x00\x00\x00\x00\x00"
    patched = bytes(raw[:at]) + gce + bytes(raw[at:])
    img = decode_gif_pixels(patched)
    assert img.shape == decode_gif_pixels(bytes(raw)).shape


def test_malformed_rejected():
    good = synthetic_gif_bytes(2)
    with pytest.raises(GifError, match="not a GIF"):
        decode_gif_pixels(b"NOTAGIF")
    with pytest.raises(GifError, match="truncated"):
        decode_gif_pixels(good[:20])
    # pixel index past a shrunk color table: rebuild with a 4-entry GCT
    # but pixel indices up to 15
    w = h = 4
    pal = bytes(range(12))
    body = (
        b"GIF89a"
        + struct.pack("<HHBBB", w, h, 0x80 | 0x01, 0, 0)
        + pal
        + b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        + bytes([4])
    )
    from etl_scripts_spark.operators.gif import _pack_codes

    codes = []
    for p in [15] * (w * h):
        codes += [16, p]
    codes.append(17)
    data = _pack_codes(codes, 5)
    body += bytes([len(data)]) + data + b"\x00" + b"\x3b"
    with pytest.raises(GifError, match="past color table"):
        decode_gif_pixels(body)


def test_decoder_totality_on_garbage():
    import random

    rng = random.Random(5)
    base = synthetic_gif_bytes(9)
    for _ in range(80):
        buf = bytearray(base)
        for _ in range(rng.randint(1, 8)):
            buf[rng.randrange(len(buf))] = rng.randrange(256)
        try:
            img = decode_gif_pixels(bytes(buf))
            assert img.ndim == 3
        except GifError:
            pass  # rejected loudly — never a crash or a hang


def test_dispatch_integration():
    from etl_scripts_spark.operators.multimodal import decode_image_pixels

    fmt, img = decode_image_pixels(synthetic_gif_bytes(4))
    assert fmt == "gif" and img is not None
    fmt, img = decode_image_pixels(b"GIF89a" + b"\x00" * 4)
    assert fmt == "gif" and img is None


def test_distributed_pixel_stats_match_closed_form(spark):
    """The full Arrow path: GIF fixtures → REAL LZW decode → pixel stats,
    value-exact vs the palette/pixel law computed in plain Python."""
    from etl_scripts_spark.operators.multimodal import (
        decode_pixel_stats,
        payload_source,
    )
    from etl_scripts_spark.operators.gif import synthetic_gif_bytes

    docs = spark.range(30).selectExpr("id AS doc_id")
    got = {
        r["doc_id"]: (r["format"], r["width"], r["height"], r["channels"], r["px_sum"])
        for r in decode_pixel_stats(payload_source(docs, "doc_id", synthetic_gif_bytes)).collect()
    }
    for d in range(30):
        w, h = 8 + d % 8, 8 + (d * 3) % 8
        s = 0
        for i in range(w * h):
            j = (13 * d + 7 * i) % 16
            s += (17 * j + d) % 256 + (23 * j + 2 * d) % 256 + (29 * j + 3 * d) % 256
        assert got[d] == ("gif", w, h, 3, s)


def test_declared_size_bomb_rejected_and_null_flows():
    """A kilobyte-scale payload declaring a huge canvas must be rejected
    by the pixel cap BEFORE LZW expansion can balloon memory (KwKwK
    streams amplify ~quadratically), and the dispatch must NULL-flow it."""
    import struct as _struct

    from etl_scripts_spark.operators.gif import MAX_PIXELS, _pack_codes
    from etl_scripts_spark.operators.multimodal import decode_image_pixels

    w = h = 60000  # 3.6e9 declared pixels >> MAX_PIXELS
    pal = bytes(12)
    codes = [4]
    codes += [1, 2] * 200  # an expanding dynamic stream
    body = (
        b"GIF89a"
        + _struct.pack("<HHBBB", w, h, 0x80 | 0x01, 0, 0)
        + pal
        + b"\x2c" + _struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
        + bytes([2])
    )
    data = _pack_codes(codes, 3)
    body += bytes([min(len(data), 255)]) + data[:255] + b"\x00" + b"\x3b"
    assert w * h > MAX_PIXELS
    with pytest.raises(GifError, match="pixel cap"):
        decode_gif_pixels(body)
    assert decode_image_pixels(body) == ("gif", None)
