"""Multimodal columns: image/audio/video as opaque binary + typed metadata.

At 100 TB the payload never round-trips through the driver: binary columns
ride in parquet/object storage, and decode / feature-extract / resize /
frame-sample run as Arrow-batched stages over whatever partitioning the
upstream scan produced.  Every such stage is :func:`map_payloads` plus a
per-row law `rows(id, payload)`; the batching, the NULL-payload rule and
the output typing live there once.  Image *metadata* needs no codec
library at all — PNG/JPEG/GIF/BMP dimensions live in the container header
and `parse_image_header` reads them with stdlib `struct`.  The PIXEL path
is real for the three containers decodable without a codec library —
PNG (zlib IDAT + all five row filters), uncompressed BMP, and baseline
JPEG (operators/jpeg.py: full huffman + dequant + IDCT + YCbCr) — so
decode → stats → resize runs end-to-end.  Codec-level VIDEO is real
for MJPEG-in-AVI (demux_avi_frames + per-frame baseline-JPEG decode in
decode_video_frame_pixels).  The remaining declared seams:
progressive/arithmetic JPEG and inter-frame video codecs (H.26x/VP9 —
ffmpeg territory), plus the CLIP-style embedding stub in
`extract_features`.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Callable, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def map_payloads(
    df: DataFrame,
    id_col: str,
    bin_col: str,
    schema: T.StructType,
    rows: Callable[[object, object], Iterable[tuple]],
) -> DataFrame:
    """THE per-row Python stage: map-only over the upstream partitioning,
    `rows(id, value)` yields zero, one or many output tuples in `schema`
    order for each input row.

    Batches cross JVM → Arrow → Python lists → a `pa.RecordBatch` typed by
    `schema` (`mapInArrow`), so no law spells nullable dtypes: None is NULL
    in any column.  A NULL binary `bin_col` reaches `rows` as b"" (an
    undecodable payload, handled by each law's quarantine); a NULL of any
    other type reaches it as None."""
    src = df.select(id_col, bin_col)
    null = b"" if isinstance(src.schema[1].dataType, T.BinaryType) else None

    def batches(it: Iterator) -> Iterator:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow = to_arrow_schema(schema)
        for batch in it:
            ids, vals = (c.to_pylist() for c in batch.columns)
            out = [
                r
                for i, v in zip(ids, vals)
                for r in rows(i, null if v is None else v)
            ]
            cols = list(zip(*out)) if out else [()] * len(arrow)
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
            )

    return src.mapInArrow(batches, schema)


IMAGE_META_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
    ]
)


#: JPEG start-of-frame markers that carry dimensions (SOF0-15 minus
#: DHT/JPG/DAC which reuse the 0xC4/0xC8/0xCC slots)
_SOF_MARKERS = frozenset(range(0xC0, 0xD0)) - {0xC4, 0xC8, 0xCC}


def parse_image_header(payload: bytes) -> tuple[str, int | None, int | None]:
    """Real image metadata from container headers — stdlib only, no codec.

    PNG IHDR (first chunk, big-endian u32 dims), JPEG SOFn via a marker
    walk, GIF87a/89a logical-screen descriptor (little-endian u16), BMP
    BITMAPINFOHEADER (little-endian i32, height may be negative for
    top-down rows).  Unknown or truncated containers yield
    ``('unknown', None, None)`` so a mixed 100 TB corpus keeps flowing;
    route the unknowns to quarantine downstream instead of failing the job.
    """
    n = len(payload)
    if n >= 24 and payload[:8] == b"\x89PNG\r\n\x1a\n" and payload[12:16] == b"IHDR":
        w, h = struct.unpack(">II", payload[16:24])
        return ("png", w, h)
    if n >= 10 and payload[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", payload[6:10])
        return ("gif", w, h)
    if n >= 4 and payload[:2] == b"\xff\xd8":
        i = 2
        while i + 1 < n and payload[i] == 0xFF:
            # spec allows any number of 0xFF fill bytes between segments
            while i + 1 < n and payload[i + 1] == 0xFF:
                i += 1
            if i + 1 >= n:  # payload ends in fill bytes: truncated, keep flowing
                break
            marker = payload[i + 1]
            if marker in (0xD9, 0xDA):  # EOI / start-of-scan: no SOF seen
                break
            if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / RSTn: no length
                i += 2
                continue
            if marker in _SOF_MARKERS:
                if i + 9 <= n:
                    h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                    return ("jpeg", w, h)
                break
            if i + 4 > n:
                break
            (seg,) = struct.unpack(">H", payload[i + 2 : i + 4])
            i += 2 + seg
        return ("jpeg", None, None)
    if n >= 22 and payload[:2] == b"BM":
        (dib,) = struct.unpack("<I", payload[14:18])
        if dib == 12:  # BITMAPCOREHEADER: u16 dims, never negative
            w16, h16 = struct.unpack("<HH", payload[18:22])
            return ("bmp", w16, h16)
        if n >= 26:
            w, h = struct.unpack("<ii", payload[18:26])
            return ("bmp", w, abs(h))
        return ("bmp", None, None)
    return ("unknown", None, None)


def synthetic_image_bytes(doc_id: int) -> bytes:
    """Deterministic spec-valid minimal image fixture: doc_id picks the
    container (png/jpeg/gif round-robin) and the dimensions.  The headers
    are real — PNG IHDR carries a computed CRC, JPEG marker lengths are
    exact — so `parse_image_header` exercises the true decode path, and a
    DuckDB oracle can predict (format, width, height, n_bytes) from
    doc_id arithmetic alone (33/41/14 bytes per container)."""
    w = 16 + doc_id % 512
    h = 16 + (doc_id * 7) % 512
    fmt = doc_id % 3
    if fmt == 0:  # PNG: signature + IHDR chunk = 33 bytes
        body = b"IHDR" + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
        return (
            b"\x89PNG\r\n\x1a\n"
            + struct.pack(">I", 13)
            + body
            + struct.pack(">I", zlib.crc32(body))
        )
    if fmt == 1:  # JPEG: SOI + APP0/JFIF + SOF0 + EOI = 41 bytes
        app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x02\x00\x00\x01\x00\x01\x00\x00"
        sof0 = (
            b"\xff\xc0"
            + struct.pack(">H", 17)
            + b"\x08"
            + struct.pack(">HH", h, w)
            + b"\x03\x01\x22\x00\x02\x11\x01\x03\x11\x01"
        )
        return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"
    # GIF89a: header + logical screen descriptor + trailer = 14 bytes
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00" + b"\x3b"


# --- real pixel codecs (stdlib-only: PNG + uncompressed BMP) --------------


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def decode_png_pixels(payload: bytes):
    """PNG → HxWxC uint8 ndarray, stdlib-only.

    Supports 8-bit color types 0 (gray), 2 (RGB), and 3 (palette — PLTE
    indices expanded to RGB), the formats the fixture generator and most
    scientific-instrument exports use: IDAT chunks are concatenated,
    zlib-inflated, and all five row filters (None/Sub/Up/Average/Paeth)
    are reversed per the PNG spec.  Returns None for interlaced, 16-bit,
    or malformed input — callers keep flowing (quarantine downstream,
    never fail the task).
    """
    import numpy as np

    try:
        if payload[:8] != b"\x89PNG\r\n\x1a\n":
            return None
        pos, w = 8, None
        idat = bytearray()
        palette = None
        while pos + 8 <= len(payload):
            (clen,) = struct.unpack(">I", payload[pos : pos + 4])
            ctype = payload[pos + 4 : pos + 8]
            data = payload[pos + 8 : pos + 8 + clen]
            if ctype == b"IHDR":
                w, h, depth, color, _comp, _filt, interlace = struct.unpack(
                    ">IIBBBBB", data[:13]
                )
                if depth != 8 or color not in (0, 2, 3) or interlace != 0:
                    return None
                ch = 3 if color == 2 else 1  # palette rows are 1 byte/px
            elif ctype == b"PLTE":
                if len(data) % 3:
                    return None
                palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
            elif ctype == b"IDAT":
                idat += data
            elif ctype == b"IEND":
                break
            pos += 12 + clen  # len + type + data + crc
        if w is None or not idat:
            return None
        if color == 3 and palette is None:
            return None  # paletted image without PLTE is malformed
        raw = zlib.decompress(bytes(idat))
        stride = w * ch
        if len(raw) != h * (stride + 1):
            return None
        out = np.zeros((h, stride), dtype=np.uint8)
        prev = np.zeros(stride, dtype=np.uint8)
        for y in range(h):
            ftype = raw[y * (stride + 1)]
            arow = np.frombuffer(
                raw, dtype=np.uint8, count=stride, offset=y * (stride + 1) + 1
            )
            if ftype == 0:  # None
                out[y] = arow
            elif ftype == 1:  # Sub — per-channel prefix sum; uint8 cumsum
                # wraps mod 256, which IS the spec's & 0xFF accumulate
                out[y] = np.cumsum(
                    arow.reshape(-1, ch), axis=0, dtype=np.uint8
                ).reshape(stride)
            elif ftype == 2:  # Up — uint8 add wraps mod 256
                out[y] = arow + prev
            elif ftype == 3:  # Average — left-neighbor dependence is
                # sequential; only the prev-row half vectorizes
                row = bytearray(arow.tobytes())
                for i in range(stride):
                    left = row[i - ch] if i >= ch else 0
                    row[i] = (row[i] + (left + int(prev[i])) // 2) & 0xFF
                out[y] = np.frombuffer(bytes(row), dtype=np.uint8)
            elif ftype == 4:  # Paeth — inherently sequential along the row
                row = bytearray(arow.tobytes())
                for i in range(stride):
                    left = row[i - ch] if i >= ch else 0
                    ul = int(prev[i - ch]) if i >= ch else 0
                    row[i] = (row[i] + _paeth(left, int(prev[i]), ul)) & 0xFF
                out[y] = np.frombuffer(bytes(row), dtype=np.uint8)
            else:
                return None
            prev = out[y]
        if color == 3:
            # palette lookup AFTER unfiltering (filters operate on index
            # bytes per spec); out-of-range indices = malformed
            idx = out.reshape(h, w)
            if int(idx.max(initial=0)) >= len(palette):
                return None
            return palette[idx]  # h x w x 3 via numpy fancy indexing
        return out.reshape(h, w, ch)
    except Exception:
        return None


def decode_bmp_pixels(payload: bytes):
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER) → HxWx3 uint8 ndarray.

    Bottom-up row order and 4-byte row padding are honored; BGR is
    returned as RGB.  None for compressed/other-depth/malformed input.
    """
    import numpy as np

    try:
        if payload[:2] != b"BM":
            return None
        (data_off,) = struct.unpack("<I", payload[10:14])
        (dib,) = struct.unpack("<I", payload[14:18])
        if dib < 40:
            return None
        w, h_signed = struct.unpack("<ii", payload[18:26])
        planes, depth = struct.unpack("<HH", payload[26:30])
        (compression,) = struct.unpack("<I", payload[30:34])
        if depth != 24 or compression != 0 or planes != 1:
            return None
        h = abs(h_signed)
        stride = (w * 3 + 3) & ~3
        body = payload[data_off : data_off + stride * h]
        if len(body) != stride * h:
            return None
        rows = np.frombuffer(body, dtype=np.uint8).reshape(h, stride)[:, : w * 3]
        img = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR → RGB
        if h_signed > 0:
            img = img[::-1]  # bottom-up storage → top-down array
        return np.ascontiguousarray(img)
    except Exception:
        return None


def decode_image_pixels(payload: bytes):
    """Dispatch: (format, HxWxC uint8 ndarray) or (format, None)."""
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return ("png", decode_png_pixels(payload))
    if payload[:2] == b"BM":
        return ("bmp", decode_bmp_pixels(payload))
    if payload[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg_pixels

        try:
            return ("jpeg", decode_jpeg_pixels(payload))
        except ValueError:
            # progressive/arithmetic/12-bit or malformed: undecodable,
            # keeps flowing with NULL stats like every other codec here
            return ("jpeg", None)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import decode_gif_pixels

        try:
            return ("gif", decode_gif_pixels(payload))
        except Exception:
            # malformed / cap-rejected: NULL stats, keep flowing — broad
            # except like the PNG branch (a codec must never kill the task)
            return ("gif", None)
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiff import decode_tiff_pixels

        try:
            return ("tiff", decode_tiff_pixels(payload))
        except Exception:
            # declared seams (tiles, LZW, 16-bit, planar=2) and malformed
            # input: NULL stats, keep flowing
            return ("tiff", None)
    fmt, _w, _h = parse_image_header(payload)
    return (fmt, None)


def _pixel_pattern(doc_id: int):
    """The fixture pixel law: v(x, y) = (3x + 7y + doc_id) mod 256,
    replicated across channels.  Deterministic AND closed-form, so a
    DuckDB oracle can recompute any aggregate of the decoded pixels from
    doc_id arithmetic alone."""
    import numpy as np

    w = 8 + doc_id % 8
    h = 8 + (doc_id * 3) % 8
    x = np.arange(w, dtype=np.int64)
    y = np.arange(h, dtype=np.int64)
    return ((3 * x[None, :] + 7 * y[:, None] + doc_id) % 256).astype(np.uint8)


def synthetic_pixel_image_bytes(doc_id: int) -> bytes:
    """Fully decodable image fixture carrying the `_pixel_pattern` bitmap.

    doc_id % 3 picks the container: 0 → 24-bit uncompressed BMP
    (bottom-up, padded rows), 1 → PNG 8-bit grayscale, 2 → PNG 8-bit RGB.
    PNG rows cycle through ALL five filter types (row % 5) so the
    decoder's unfiltering paths are exercised by every fixture, not just
    a lucky subset.
    """
    import numpy as np

    gray = _pixel_pattern(doc_id)
    h, w = gray.shape
    variant = doc_id % 3
    if variant == 0:  # BMP, r=g=b
        stride = (w * 3 + 3) & ~3
        rows = np.zeros((h, stride), dtype=np.uint8)
        rgb = np.repeat(gray[:, :, None], 3, axis=2)
        rows[:, : w * 3] = rgb.reshape(h, w * 3)
        body = rows[::-1].tobytes()  # bottom-up
        header = b"BM" + struct.pack("<IHHI", 54 + len(body), 0, 0, 54)
        dib = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
        return header + dib + body

    ch = 1 if variant == 1 else 3
    img = gray if ch == 1 else np.repeat(gray[:, :, None], 3, axis=2).reshape(h, w * 3)
    img = img.reshape(h, w * ch).astype(np.int64)
    stride = w * ch
    filtered = bytearray()
    prev = np.zeros(stride, dtype=np.int64)
    for y in range(h):
        cur = img[y]
        ftype = y % 5
        filtered.append(ftype)
        if ftype == 0:
            enc = cur
        elif ftype == 1:
            left = np.concatenate([np.zeros(ch, dtype=np.int64), cur[:-ch]])
            enc = cur - left
        elif ftype == 2:
            enc = cur - prev
        elif ftype == 3:
            left = np.concatenate([np.zeros(ch, dtype=np.int64), cur[:-ch]])
            enc = cur - (left + prev) // 2
        else:
            left = np.concatenate([np.zeros(ch, dtype=np.int64), cur[:-ch]])
            ul = np.concatenate([np.zeros(ch, dtype=np.int64), prev[:-ch]])
            pred = np.array(
                [_paeth(int(a), int(b), int(c)) for a, b, c in zip(left, prev, ul)],
                dtype=np.int64,
            )
            enc = cur - pred
        filtered += (enc % 256).astype(np.uint8).tobytes()
        prev = cur

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0 if ch == 1 else 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(filtered)))
        + chunk(b"IEND", b"")
    )


# --- RIFF container family: WAV audio decode + AVI video demux -----------


def parse_riff_chunks(payload: bytes):
    """Walk a RIFF container's top-level chunks: yields
    (fourcc, list_type, data_offset, size).  list_type is set for LIST
    chunks (their first 4 payload bytes), else None.  Totally tolerant:
    malformed tails just end the walk."""
    if len(payload) < 12 or payload[:4] != b"RIFF":
        return
    pos = 12
    end = min(8 + struct.unpack("<I", payload[4:8])[0], len(payload))
    while pos + 8 <= end:
        fourcc = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        if pos + 8 + size > len(payload):
            break
        list_type = payload[pos + 8 : pos + 12] if fourcc == b"LIST" else None
        yield fourcc, list_type, pos + 8, size
        pos += 8 + size + (size & 1)  # chunks are word-aligned


def synthetic_wav_bytes(doc_id: int) -> bytes:
    """Deterministic 16-bit mono PCM WAV: n = 256 + doc_id % 256 samples,
    s(i) = ((doc_id*31 + i*7) mod 65536) - 32768, rate 8000 + (doc_id % 4)
    * 4000.  Fully decodable AND closed-form, so the oracle recomputes any
    aggregate of the decoded samples from doc_id arithmetic."""
    import numpy as np

    n = 256 + doc_id % 256
    rate = 8000 + (doc_id % 4) * 4000
    i = np.arange(n, dtype=np.int64)
    samples = (((doc_id * 31 + i * 7) % 65536) - 32768).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)  # PCM mono 16-bit
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


# IMA/DVI ADPCM (WAVE format tag 0x0011) — the standard 4-bit adaptive
# codec: 89-entry step table, 8-entry index adaptation.  Public law
# (IMA "Recommended Practices for Enhancing Digital Audio Compatibility",
# same tables as every OSS decoder).
_IMA_STEP = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_IMA_INDEX = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_nibble(pred: int, idx: int, nib: int):
    """One adaptive step of the IMA law: diff = step>>3 (+step if bit2,
    +step>>1 if bit1, +step>>2 if bit0), sign = bit3, predictor clamped
    to int16, index clamped to [0, 88].  Shared by the mono and stereo
    block decoders so the law lives once."""
    step = _IMA_STEP[idx]
    diff = step >> 3
    if nib & 4:
        diff += step
    if nib & 2:
        diff += step >> 1
    if nib & 1:
        diff += step >> 2
    pred = pred - diff if nib & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _IMA_INDEX[nib & 7]))
    return pred, idx


def decode_ima_adpcm_block(block: bytes):
    """One MONO IMA ADPCM block → list[int] int16 samples.

    Block layout: predictor int16 LE + step index byte + reserved byte,
    then nibble pairs (LOW nibble is the earlier sample).  The header
    predictor IS the block's first output sample; each nibble then emits
    one sample via _ima_nibble.  Sequential by construction (the whole
    point of the adaptive law) — vectorization happens across payloads
    in the Arrow stage, not within a block."""
    pred = struct.unpack("<h", block[0:2])[0]
    idx = block[2]
    if idx > 88:
        return None
    out = [pred]
    for byte in block[4:]:
        for nib in (byte & 0x0F, byte >> 4):
            pred, idx = _ima_nibble(pred, idx, nib)
            out.append(pred)
    return out


def decode_ima_adpcm_stereo_block(block: bytes):
    """One STEREO IMA ADPCM block → channel-interleaved list[int] (L R L
    R ...), the same flat contract PCM stereo uses downstream.

    Layout per the IMA/Microsoft WAVE mapping: a 4-byte header per
    channel (L then R), then the nibble data in 4-BYTE GROUPS alternating
    channels — each group carries 8 consecutive samples of ONE channel,
    and the two 8-sample runs of a group pair interleave samplewise."""
    if len(block) < 8 or (len(block) - 8) % 8 != 0:
        return None
    preds, idxs = [0, 0], [0, 0]
    for c in (0, 1):
        preds[c] = struct.unpack("<h", block[4 * c : 4 * c + 2])[0]
        idxs[c] = block[4 * c + 2]
        if idxs[c] > 88:
            return None
    out = [preds[0], preds[1]]
    for off in range(8, len(block), 8):
        runs = [[], []]
        for c in (0, 1):
            for byte in block[off + 4 * c : off + 4 * c + 4]:
                for nib in (byte & 0x0F, byte >> 4):
                    preds[c], idxs[c] = _ima_nibble(preds[c], idxs[c], nib)
                    runs[c].append(preds[c])
        for l, r in zip(runs[0], runs[1]):
            out.extend((l, r))
    return out


def synthetic_adpcm_wav_bytes(doc_id: int, channels: int = 1) -> bytes:
    """Deterministic mono IMA-ADPCM WAV whose DECODE is closed-form: every
    block's nibbles are magnitude-0 ({0x0, 0x8}, pattern varies by byte
    parity) with step index 0 — at index 0, diff = 7>>3 = 0 and the index
    re-clamps to 0, so every sample of block b equals its header predictor
    P(b) = ((doc_id·131 + b·1717) mod 65536) − 32768.  k = 2 + doc_id % 3
    blocks, rate 8000; mono (block_align 12, 17 samples/block) or stereo
    (channels=2, block_align 16, 18 interleaved samples/block, per-channel
    predictor P(b, c) offset by 4999·c).  The decoder
    still exercises the full container walk, block split, header parse,
    nibble unpack and sign branch; the magnitude/adaptation arithmetic is
    pinned by hand-computed unit vectors instead (it cannot be closed-form
    — that adaptivity is what makes the codec lossy)."""
    k = 2 + doc_id % 3
    block_align = 12 if channels == 1 else 16
    zero_nib = (0x00, 0x88, 0x08, 0x80)
    blocks = b""
    for b in range(k):
        hdr = b"".join(
            struct.pack(
                "<hBB", ((doc_id * 131 + b * 1717 + c * 4999) % 65536) - 32768, 0, 0
            )
            for c in range(channels)
        )
        nib = bytes(
            zero_nib[(doc_id + m) % 4] for m in range(block_align - 4 * channels)
        )
        blocks += hdr + nib
    # wSamplesPerBlock (fmt extension): per-CHANNEL samples a block
    # carries — (align − 4·ch)·2/ch data nibbles + the header sample;
    # 17 for the mono shape, 9 for stereo (a conforming external decoder
    # validates the fixture against this field even though ours derives
    # counts from block_align alone)
    spb = (block_align - 4 * channels) * 2 // channels + 1
    fmt = struct.pack(
        "<HHIIHHHH", 17, channels, 8000, 4055 * channels, block_align, 4, 2, spb
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(blocks)) + blocks
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


# G.711 μ-law (WAVE format tag 0x0007) and A-law (0x0006) — the standard
# telephony companding laws (ITU-T G.711; the same expansion arithmetic as
# Sun's public-domain g711.c).  Pure 256-entry lookup: exact, branch-free,
# vectorized with np.take over the raw byte stream.
_G711_TABLES: dict | None = None


def _g711_expand_ulaw(u: int) -> int:
    u = ~u & 0xFF
    t = ((u & 0x0F) << 3) + 0x84
    t <<= (u & 0x70) >> 4
    return (0x84 - t) if (u & 0x80) else (t - 0x84)


def _g711_expand_alaw(a: int) -> int:
    a ^= 0x55
    t = (a & 0x0F) << 4
    seg = (a & 0x70) >> 4
    if seg == 0:
        t += 8
    else:
        t = (t + 0x108) << (seg - 1)
    return t if (a & 0x80) else -t


def _g711_tables():
    """(ulaw, alaw) int16 expansion tables, built once per process."""
    global _G711_TABLES
    if _G711_TABLES is None:
        import numpy as np

        _G711_TABLES = {
            7: np.array([_g711_expand_ulaw(i) for i in range(256)], dtype=np.int16),
            6: np.array([_g711_expand_alaw(i) for i in range(256)], dtype=np.int16),
        }
    return _G711_TABLES


def synthetic_g711_wav_bytes(doc_id: int, law: int = 7) -> bytes:
    """Deterministic G.711 WAV (law 7 = μ-law, 6 = A-law): n = 128 +
    doc_id % 128 encoded bytes, byte(i) = (doc_id*37 + i*11) mod 256,
    rate 8000.  The encoded byte stream is closed-form in doc_id, and the
    expansion is a FIXED public table — so any aggregate of the decoded
    samples is reproducible in another engine as table[(doc_id*37 +
    i*11) mod 256] arithmetic (the ADPCM fixture cannot offer this: its
    adaptive state is path-dependent; G.711 is stateless per byte)."""
    n = 128 + doc_id % 128
    data = bytes((doc_id * 37 + i * 11) % 256 for i in range(n))
    fmt = struct.pack("<HHIIHH", law, 1, 8000, 8000, 1, 8)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav_audio(payload: bytes):
    """WAV PCM → (sample_rate, int16 ndarray) — real stdlib decode of the
    fmt + data chunks; None for non-PCM/malformed input (keep flowing).

    8- and 16-bit PCM, mono or stereo.  The return contract is one flat
    int16 array: stereo stays channel-interleaved (sum/peak stats are
    channel-agnostic), 8-bit unsigned samples are mapped to int16 by the
    standard (x - 128) << 8 centering, so downstream stat laws see one
    numeric domain regardless of source depth.
    """
    dec = decode_wav_pcm(payload)
    return None if dec is None else (dec[0], dec[2])


def decode_wav_pcm(payload: bytes):
    """WAV PCM → (sample_rate, channels, flat int16 ndarray), or None.
    The channel-aware form of decode_wav_audio — spectral operators must
    de-interleave (a stereo stream read flat halves every frequency)."""
    import numpy as np

    try:
        if payload[8:12] != b"WAVE":
            return None
        rate, bits, channels, data = None, None, None, None
        audio_fmt, block_align = None, None
        pos, end = 12, min(8 + struct.unpack("<I", payload[4:8])[0], len(payload))
        while pos + 8 <= end:
            fourcc = payload[pos : pos + 4]
            (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
            chunk = payload[pos + 8 : pos + 8 + size]
            if fourcc == b"fmt " and len(chunk) >= 16:
                audio_fmt, channels, rate = struct.unpack("<HHI", chunk[:8])
                block_align = struct.unpack("<H", chunk[12:14])[0]
                bits = struct.unpack("<H", chunk[14:16])[0]
                if audio_fmt not in (1, 6, 7, 17):  # PCM, A-law, μ-law, IMA ADPCM
                    return None
            elif fourcc == b"data":
                data = chunk
            pos += 8 + size + (size & 1)
        if rate is None or data is None or not 0 < rate < 2**31:
            return None
        if audio_fmt in (6, 7):
            # G.711 A-law / μ-law: stateless per-byte expansion through
            # the fixed public table — one np.take over the raw stream
            if bits != 8 or channels not in (1, 2):
                return None
            raw = np.frombuffer(data, dtype=np.uint8)
            return rate, channels, _g711_tables()[audio_fmt][raw]
        if audio_fmt == 17:
            # IMA ADPCM, mono or stereo 4-bit; full blocks only.  Mono
            # blocks decode to (block_align-4)*2 + 1 samples; stereo
            # blocks to 2 + 2*(block_align-8) interleaved samples.
            if bits != 4 or channels not in (1, 2):
                return None
            min_align = 5 if channels == 1 else 16
            if not block_align or block_align < min_align:
                return None
            decode_blk = (
                decode_ima_adpcm_block
                if channels == 1
                else decode_ima_adpcm_stereo_block
            )
            samples: list[int] = []
            for off in range(0, len(data) - block_align + 1, block_align):
                blk = decode_blk(data[off : off + block_align])
                if blk is None:
                    return None
                samples.extend(blk)
            return rate, channels, np.asarray(samples, dtype=np.int16)
        if bits not in (8, 16) or channels not in (1, 2):
            return None
        if bits == 8:
            raw = np.frombuffer(data, dtype=np.uint8)
            return rate, channels, ((raw.astype(np.int16) - 128) << 8)
        return rate, channels, np.frombuffer(data[: len(data) & ~1], dtype="<i2")
    except Exception:
        return None


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("sum_samples", T.LongType()),
        T.StructField("peak", T.IntegerType()),
    ]
)


def decode_audio_stats(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload") -> DataFrame:
    """binary → REAL WAV decode → per-file stats (rate, n, sum, peak)."""

    def rows(did, b):
        dec = decode_wav_audio(b)
        if dec is None:
            return [(did, None, None, None, None)]
        rate, samples = dec
        x = samples.astype("int64")
        return [(did, rate, len(x), int(x.sum()), int(abs(x).max()) if len(x) else None)]

    return map_payloads(df, id_col, bin_col, AUDIO_STATS_SCHEMA, rows)


def synthetic_avi_bytes(doc_id: int) -> bytes:
    """Minimal spec-shaped AVI: RIFF('AVI ') with an hdrl LIST (avih main
    header carrying the true frame count) and a movi LIST of '00dc' video
    chunks.  k = 2 + doc_id % 7 frames; frame i has length
    10 + (doc_id + i) % 50 and bytes b(m) = (doc_id + 3i + m) mod 256 —
    closed-form for the demux oracle."""
    k = 2 + doc_id % 7
    frames = []
    for i in range(k):
        ln = 10 + (doc_id + i) % 50
        frames.append(bytes(((doc_id + 3 * i + m) % 256) for m in range(ln)))
    return _avi_container(frames)


def _avi_container(frames: list[bytes]) -> bytes:
    """RIFF('AVI ') wrap of a '00dc' frame list — the ONE copy of the
    container law (avih header, hdrl/movi LISTs, odd-size padding) shared
    by the raw-frame and MJPEG fixtures, so the two can never drift."""
    avih = struct.pack("<14I", 33367, 0, 0, 0, len(frames), 0, 1, 0, 0, 0, 0, 0, 0, 0)
    hdrl = b"hdrl" + b"avih" + struct.pack("<I", len(avih)) + avih
    movi = bytearray(b"movi")
    for fr in frames:
        movi += b"00dc" + struct.pack("<I", len(fr)) + fr
        if len(fr) & 1:
            movi += b"\x00"
    body = (
        b"AVI "
        + b"LIST" + struct.pack("<I", len(hdrl)) + hdrl
        + b"LIST" + struct.pack("<I", len(movi)) + bytes(movi)
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def demux_avi_frames(payload: bytes):
    """REAL RIFF/AVI demux: walk the chunk tree, locate the movi LIST, and
    return [(offset, frame_bytes), ...] for the video ('..dc'/'..db')
    chunks.  This is container demuxing — the codec payload stays opaque
    (decode needs ffmpeg; that seam is downstream).  None if no movi."""
    for fourcc, list_type, off, size in parse_riff_chunks(payload):
        if fourcc == b"LIST" and list_type == b"movi":
            frames = []
            pos, end = off + 4, off + size
            while pos + 8 <= end:
                cc = payload[pos : pos + 4]
                (ln,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
                if pos + 8 + ln > end:
                    break
                if cc[2:4] in (b"dc", b"db"):
                    frames.append((pos + 8, payload[pos + 8 : pos + 8 + ln]))
                pos += 8 + ln + (ln & 1)
            return frames
    return None


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("src_frame", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("byte_sum", T.LongType()),
    ]
)


def sample_video_frames(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload", n_frames: int = 4
) -> DataFrame:
    """REAL keyframe-index sampling: demux the AVI movi list, then pick n
    evenly-spaced frames (src = j*k//n — the even-sampling law a seekable
    container allows, vs. the byte-slicing stub for opaque payloads).
    One row in → n rows out, partitioning carried over, frame bytes
    reduced to (len, sum) fingerprints before they leave the stage so the
    fan-out doesn't multiply payload bytes through the rest of the plan.
    """

    def rows(did, b):
        import numpy as np

        frames = demux_avi_frames(b)
        if not frames:
            return  # undecodable → no rows (quarantine upstream)
        k = len(frames)
        for j in range(n_frames):
            src = j * k // n_frames
            _off, data = frames[src]
            arr = np.frombuffer(data, dtype=np.uint8)
            yield did, j, src, k, len(data), int(arr.astype("int64").sum())

    return map_payloads(df, id_col, bin_col, VIDEO_FRAME_SCHEMA, rows)


PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("payload", T.BinaryType()),
    ]
)


def payload_source(df: DataFrame, id_col: str, synth) -> DataFrame:
    """(doc_id, payload): the fixture source for every codec — one
    synthetic payload `synth(id)` per id (e.g. `synthetic_wav_bytes`,
    `sidecars.synthetic_pdf_bytes`), map-only and Arrow-batched, keeping
    the upstream partitioning.  Stands in for the object-store scan that
    feeds real binaries at scale; the fixture generator runs on the
    executors, never the driver.  The id column always comes out as
    `doc_id`."""

    # the id is its own payload column: `rows` ignores the second value
    return map_payloads(df, id_col, id_col, PAYLOAD_SCHEMA, lambda i, _: [(i, synth(i))])


def decode_image_meta(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload") -> DataFrame:
    """binary column → typed metadata via the Arrow-batched stage, using
    the real stdlib header parser (no codec library needed for metadata)."""

    def rows(did, b):
        return [(did, len(b), *parse_image_header(b))]

    return map_payloads(df, id_col, bin_col, IMAGE_META_SCHEMA, rows)


def with_binary_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Test harness: materialize an opaque binary column from text so the
    multimodal plumbing runs against the driver's synthetic tables."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8"))


FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("feature", T.ArrayType(T.DoubleType())),
    ]
)


def extract_features(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload", dim: int = 16) -> DataFrame:
    """binary payload → fixed-dim feature vector via the Arrow-batched stage.

    The STUB embedding is a normalized byte histogram (deterministic, so the
    ANN operators downstream are testable); swap the histogram for a real
    encoder (CLIP et al.) without touching the Spark plumbing.  Output shape
    matches the `embeddings` table, so srp_buckets_df / cosine_topk compose
    directly: decode → embed → bucket → join is one plan, no driver hop.
    """

    def rows(did, b):
        import numpy as np

        arr = np.frombuffer(b, dtype=np.uint8)
        if arr.size == 0:
            return [(did, [0.0] * dim)]
        hist = np.bincount(arr % dim, minlength=dim).astype("float64")
        return [(did, (hist / hist.sum()).tolist())]

    return map_payloads(df, id_col, bin_col, FEATURE_SCHEMA, rows)


FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("frame_offset", T.LongType()),
        T.StructField("frame_bytes", T.BinaryType()),
    ]
)


def sample_frames(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload", n_frames: int = 4) -> DataFrame:
    """Video frame sampling plumbing: payload → n evenly-spaced 'frames'.

    One input row fans out to n output rows (the real op would seek the
    container's keyframe index; the STUB slices the byte stream evenly).
    Partitioning carries over from the scan — no shuffle; at 100 TB the fan
    -out multiplies bytes, so cap n_frames or follow with a projection that
    drops frame_bytes once features are extracted.
    """

    def rows(did, raw):
        step = max(len(raw) // n_frames, 1)
        for i in range(n_frames):
            off = min(i * step, max(len(raw) - 1, 0))
            yield did, i, off, raw[off : off + step]

    return map_payloads(df, id_col, bin_col, FRAME_SCHEMA, rows)


PIXEL_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("mean_px", T.DoubleType()),
    ]
)


def decode_pixel_stats(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload") -> DataFrame:
    """binary → REAL pixel decode → per-image stats, Arrow-batched.

    px_sum / mean_px aggregate every channel value of the decoded bitmap;
    undecodable payloads yield NULL stats and keep flowing.  This is the
    genuine decode path (PNG unfiltering + BMP row handling), not header
    metadata — a one-byte codec bug shifts px_sum.
    """

    def rows(did, b):
        from decimal import ROUND_HALF_UP, Decimal

        fmt, img = decode_image_pixels(b)
        if img is None:
            return [(did, fmt, None, None, None, None, None)]
        h, w, ch = img.shape
        s = int(img.astype("int64").sum())
        # HALF_UP over the double's shortest decimal repr —
        # bit-for-bit what Spark round() does (BigDecimal
        # .valueOf → HALF_UP; Python repr == Java
        # Double.toString shortest form).  Python round() is
        # banker's (half-even) and diverges on exact .5 ties.
        mean = Decimal(repr(s / (h * w * ch))).quantize(Decimal("0.0001"), rounding=ROUND_HALF_UP)
        return [(did, fmt, w, h, ch, s, float(mean))]

    return map_payloads(df, id_col, bin_col, PIXEL_STATS_SCHEMA, rows)


RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("resized", T.BinaryType()),
    ]
)


def _nn_sample(img, width: int, height: int):
    """THE nearest-neighbor sampling law (src = floor(dst * in/out), the
    standard C2-style mapping) — one copy shared by :func:`resize_image`
    and :func:`resize_byte_sum`, so the fused fingerprint stage cannot
    silently diverge from the pixel-emitting one."""
    import numpy as np

    h, w, _ch = img.shape
    xs = (np.arange(width) * w) // width
    ys = (np.arange(height) * h) // height
    return img[ys][:, xs]


def resize_image(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload", width: int = 224, height: int = 224) -> DataFrame:
    """REAL image resize: stdlib decode → nearest-neighbor sample → raw
    bytes out, as an Arrow-batched stage.

    Nearest-neighbor (src = floor(dst * in/out), the standard C2-style
    mapping) is deterministic integer arithmetic — reproducible across
    engines, so an oracle can re-derive any aggregate of the output.
    Payloads the stdlib codecs can't decode (JPEG et al.) yield NULL
    `resized` and keep flowing; swap the decode dispatch for Pillow to
    widen coverage without touching the plumbing.
    """

    def rows(did, b):
        _fmt, img = decode_image_pixels(b)
        if img is None:
            return [(did, width, height, None, None)]
        return [(did, width, height, img.shape[2], _nn_sample(img, width, height).tobytes())]

    return map_payloads(df, id_col, bin_col, RESIZE_SCHEMA, rows)


RESIZE_SUM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("out_w", T.IntegerType()),
        T.StructField("out_h", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("res_sum", T.LongType()),
    ]
)


def resize_byte_sum(
    df: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    width: int = 224,
    height: int = 224,
) -> DataFrame:
    """decode → nearest-neighbor resize → byte-sum fingerprint, FUSED into
    one Arrow stage.

    Value-identical to ``resized_byte_sum(resize_image(df))`` — same decode
    dispatch, the same ``src = floor(dst * in/out)`` sampling grid, and the
    sum is the int64 total of the same uint8 samples (summing the sampled
    array directly equals summing the serialized bytes; pinned by
    tests/test_stages.py::test_resize_byte_sum_fused_matches_chained).

    Why fused: the chained form ships every resized pixel blob
    JVM → Python → JVM → Python — two extra Arrow crossings plus a second
    per-batch Python materialization, pure boundary overhead for bytes
    whose only consumer is a sum (guide-§4 shape: cross the boundary once,
    pass only what the function needs).  The chained operators stay for
    callers that need the actual resized payloads.
    """

    def rows(did, b):
        _fmt, img = decode_image_pixels(b)
        if img is None:
            return [(did, width, height, None, None)]
        res_sum = int(_nn_sample(img, width, height).astype("int64").sum())
        return [(did, width, height, img.shape[2], res_sum)]

    return map_payloads(df, id_col, bin_col, RESIZE_SUM_SCHEMA, rows)


def resized_byte_sum(resized: DataFrame) -> DataFrame:
    """Byte-sum fingerprint of `resize_image` output (oracle-comparable
    scalar per image; raw pixel blobs don't hash portably across engines)."""

    def rows(did, r):
        import numpy as np

        b = r["resized"]
        s = None if b is None else int(np.frombuffer(b, dtype=np.uint8).astype("int64").sum())
        return [(did, r["out_w"], r["out_h"], r["channels"], s)]

    img = F.struct("out_w", "out_h", "channels", "resized").alias("img")
    return map_payloads(resized.select("doc_id", img), "doc_id", "img", RESIZE_SUM_SCHEMA, rows)


# --- MJPEG video: codec-level frame decode -------------------------------

MJPEG_FRAME_PIXEL_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("src_frame", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("channels", T.IntegerType()),
        T.StructField("px_sum", T.LongType()),
        T.StructField("px_min", T.IntegerType()),
        T.StructField("px_max", T.IntegerType()),
    ]
)


def synthetic_mjpeg_avi_bytes(doc_id: int) -> bytes:
    """MJPEG-in-AVI fixture: the same RIFF/AVI container law as
    synthetic_avi_bytes, but every '00dc' chunk is a REAL baseline JPEG
    (jpeg.synthetic_jpeg_bytes with per-frame id doc_id + i), so frame
    pixels follow the closed-form DC-block law and video decode is
    verifiable value-exactly end to end — container demux AND codec."""
    from .jpeg import synthetic_jpeg_bytes

    d = int(doc_id)
    k = 2 + d % 5
    return _avi_container([synthetic_jpeg_bytes(d + i) for i in range(k)])


def decode_video_frame_pixels(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload", n_frames: int = 4
) -> DataFrame:
    """CODEC-LEVEL video decode: demux the AVI movi list, even-sample
    `n_frames` (the same src = j·k//n seek law as sample_video_frames),
    then JPEG-decode each sampled frame to pixels and reduce to stats —
    the video path is now real decode, not byte fingerprints.

    Undecodable frames (non-JPEG chunk payloads, truncation) keep
    flowing as rows with NULL pixel stats, mirroring
    decode_pixel_stats' quarantine contract.  One row in → n rows out
    inside the Arrow stage; frame pixels never leave it.
    """

    def rows(did, b):
        import numpy as np

        from .jpeg import decode_jpeg_pixels

        frames = demux_avi_frames(b)
        if not frames:
            return  # undecodable container → no rows
        k = len(frames)
        for j in range(n_frames):
            src = j * k // n_frames
            _off, data = frames[src]
            try:
                img = decode_jpeg_pixels(data)
            except ValueError:
                yield (did, j, src, k) + (None,) * 6
                continue
            arr = img.astype(np.int64)
            yield (did, j, src, k, *img.shape, int(arr.sum()), int(arr.min()), int(arr.max()))

    return map_payloads(df, id_col, bin_col, MJPEG_FRAME_PIXEL_SCHEMA, rows)


# --- Perceptual image hashing: near-duplicate images ----------------------

AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("ahash", T.LongType()),
    ]
)


def _ahash64(img) -> int:
    """64-bit average hash (aHash) of a decoded (h, w, ch) uint8 image:
    integer-weighted luma (299/587/114 per ITU-R 601, scale 1000 — no
    float), pixels pooled into an 8×8 grid by the floor map
    (y·8//h, x·8//w), bit 8·cy+cx set iff the cell's mean luma exceeds
    the global mean.  The comparison is the exact integer cross-multiply
    cell_sum·total_cnt > total_sum·cell_cnt (Python bigints — no
    overflow, no float ties), so the hash is bit-reproducible on any
    platform.  Returned as a SIGNED 64-bit value (bit 63 wraps negative,
    matching the simhash convention the band join expects)."""
    import numpy as np

    a = img.astype(np.int64)
    if a.shape[2] == 1:
        luma = a[:, :, 0] * 1000
    else:
        luma = 299 * a[:, :, 0] + 587 * a[:, :, 1] + 114 * a[:, :, 2]
    h, w = luma.shape
    cell = (np.arange(h) * 8 // h)[:, None] * 8 + (np.arange(w) * 8 // w)[None, :]
    sums = np.zeros(64, dtype=np.int64)
    np.add.at(sums, cell.ravel(), luma.ravel())
    cnts = np.bincount(cell.ravel(), minlength=64)
    total_sum = int(luma.sum())
    total_cnt = h * w
    val = 0
    for j in range(64):
        if int(sums[j]) * total_cnt > total_sum * int(cnts[j]):
            val |= 1 << j
    return val - (1 << 64) if val >= 1 << 63 else val


def _payload_signature_stage(df: DataFrame, hasher, id_col: str, bin_col: str) -> DataFrame:
    """The ONE signature-stage kernel behind image_ahash and audio_ehash:
    Arrow-batched map over the caller's partitioning, calling
    `hasher(payload_bytes) -> int | None`.  Undecodable payloads yield a
    NULL signature (the pair stage drops them); rows with a NULL id are
    skipped the same way — both quarantine, neither fails the task."""

    def rows(did, b):
        return [] if did is None else [(did, hasher(b))]

    return map_payloads(df, id_col, bin_col, AHASH_SCHEMA, rows)


def _sig_pairs(df: DataFrame, sig_fn, id_col: str, bin_col: str, max_hamming: int) -> DataFrame:
    from .text import hamming_near_dup_pairs

    sig = sig_fn(df, id_col, bin_col).filter(F.col("ahash").isNotNull())
    return hamming_near_dup_pairs(sig, sig_col="ahash", max_hamming=max_hamming)


def _image_hasher(payload: bytes):
    _fmt, img = decode_image_pixels(payload)
    return None if img is None else _ahash64(img)


def image_ahash(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload") -> DataFrame:
    """(doc_id, ahash): perceptual signature per image.  Near-identical
    images (recompressions, small edits) land within a few bits of each
    other — the image analog of the text SimHash."""
    return _payload_signature_stage(df, _image_hasher, id_col, bin_col)


def image_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate IMAGE pairs: aHash signatures through the SAME
    4×16-bit pigeonhole band join as text SimHash
    (text.hamming_near_dup_pairs — the banding law lives once).  Scale
    shape is inherited: banded equi-joins bound candidates, bit_count
    verifies in-join, output grows with true near-dups."""
    return _sig_pairs(df, image_ahash, id_col, bin_col, max_hamming)


# --- Perceptual audio hashing: near-duplicate audio -----------------------


def _audio_ehash64(samples) -> int:
    """64-bit energy hash of a flat int16 sample array: samples pooled
    into 64 frames by the floor map i·64//n, per-frame energy = Σ|x|,
    bit j set iff frame j's MEAN energy exceeds the global mean —
    the same exact bigint cross-multiply law as the image aHash
    (frame_sum·total_cnt > total_sum·frame_cnt), so the hash is
    bit-reproducible and NEAR-invariant under amplitude re-levelling:
    exact scalings (e.g. a power-of-two gain on even samples) preserve
    every bit, while rounded integer gains can flip bits whose frame
    energy sits at the global-mean boundary — a few-bit drift the
    hamming band join absorbs.  Signed 64-bit (bit 63 wraps),
    ready for text.hamming_near_dup_pairs."""
    import numpy as np

    x = np.abs(samples.astype(np.int64))
    n = x.shape[0]
    if n == 0:
        return 0
    frame = np.arange(n) * 64 // n
    sums = np.zeros(64, dtype=np.int64)
    np.add.at(sums, frame, x)
    cnts = np.bincount(frame, minlength=64)
    total_sum = int(x.sum())
    val = 0
    for j in range(64):
        if int(sums[j]) * n > total_sum * int(cnts[j]):
            val |= 1 << j
    return val - (1 << 64) if val >= 1 << 63 else val


def _audio_hasher(payload: bytes):
    decoded = decode_wav_audio(payload)
    return None if decoded is None else _audio_ehash64(decoded[1])


def audio_ehash(df: DataFrame, id_col: str = "doc_id", bin_col: str = "payload") -> DataFrame:
    """(doc_id, ahash): energy-hash signature per WAV payload; the audio
    member of the modality triple — text SimHash, image aHash, audio
    energy hash — all three feeding the one shared pigeonhole band
    join (stage plumbing shared via _payload_signature_stage)."""
    return _payload_signature_stage(df, _audio_hasher, id_col, bin_col)


def audio_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-duplicate AUDIO pairs via the shared band join."""
    return _sig_pairs(df, audio_ehash, id_col, bin_col, max_hamming)


def signature_dup_clusters(
    sig: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "ahash",
    max_hamming: int = 3,
) -> DataFrame:
    """(doc_id, cluster): near-dup clustering that is SAFE for corpora
    with huge identical-content groups — the failure mode the pairwise
    API cannot avoid.

    image_near_dup_pairs emits one row per near pair, which is the right
    product for measurement but inherently QUADRATIC in identical-
    signature group size: a logo repeated a million times is ~5·10^11
    pairs no matter how clever the banding (the 10× probe measured
    exactly this blowup on the duplicate-heavy fixture corpus).  This
    clusterer collapses FIRST: one groupBy deduplicates signatures
    (identical images never meet pairwise), the band join runs over
    DISTINCT signatures only, min-label connected components label the
    signature graph (diameter 2-3 for near-dup shapes), and members
    re-attach by signature — work is O(docs + distinct_sigs + sig_pairs),
    never O(group²).  Same relationship as dedup.span_dup_clusters to
    its pair generator.
    """
    from .dedup import connected_components
    from .text import hamming_near_dup_pairs

    s = sig.filter(F.col(sig_col).isNotNull())
    distinct_sigs = s.groupBy(sig_col).agg(F.min(id_col).alias("_rep"))
    pairs = hamming_near_dup_pairs(
        distinct_sigs.select(F.col("_rep").alias("doc_id"), F.col(sig_col)),
        sig_col=sig_col,
        max_hamming=max_hamming,
    )
    comp = connected_components(pairs.select("id_a", "id_b"))
    reps = distinct_sigs.join(
        comp, distinct_sigs["_rep"] == comp["id"], "left"
    ).select(
        sig_col,
        F.coalesce(F.col("component"), F.col("_rep")).alias("cluster"),
    )
    return s.join(reps, sig_col).select(id_col, "cluster")


def image_dup_clusters(
    df: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    max_hamming: int = 3,
) -> DataFrame:
    """(id_col, cluster) over image payloads — decode + aHash, then the
    group-size-safe signature clusterer.  The signature stage always
    emits its id as `doc_id` (AHASH_SCHEMA); a caller's custom id name
    is restored on the way out."""
    out = signature_dup_clusters(
        image_ahash(df, id_col, bin_col), "doc_id", "ahash", max_hamming
    )
    return out if id_col == "doc_id" else out.withColumnRenamed("doc_id", id_col)


def synthetic_square_wav_bytes(doc_id: int) -> bytes:
    """Deterministic 16-bit mono WAV holding a SQUARE tone: amplitude
    ±12000, fundamental bin k = 3 + doc_id % 60 of a 256-sample frame,
    n = 256 * (1 + doc_id % 4) samples, rate 8000 + (doc_id % 4) * 4000.

    A square wave keeps the spectral law integer-exact with zero floats
    in either engine: s(i) = +A iff (k*i mod 256) < 128, duty is exactly
    half for every k (128 is a multiple of gcd(k, 256)), so DC = 0; the
    fundamental 4A/pi at bin k dominates every (possibly alias-folded)
    odd harmonic (<= 1/3 of it), so dominant_bin == k for k in 3..62;
    and per-frame energy is exactly 256 * A^2."""
    import numpy as np

    n = 256 * (1 + doc_id % 4)
    rate = 8000 + (doc_id % 4) * 4000
    k = 3 + doc_id % 60
    i = np.arange(n, dtype=np.int64)
    samples = np.where((k * i) % 256 < 128, 12000, -12000).astype("<i2")
    data = samples.tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


SPECTROGRAM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("dominant_bin", T.IntegerType()),
        T.StructField("frame_energy", T.LongType()),
    ]
)


def audio_spectrogram(
    df: DataFrame,
    id_col: str = "doc_id",
    bin_col: str = "payload",
    frame: int = 256,
) -> DataFrame:
    """binary WAV → per-frame spectral rows: a REAL rFFT (numpy, inside
    the Arrow stage — payloads never leave it) over non-overlapping
    rectangular frames of channel 0.

    Per frame: `dominant_bin` = argmax_k |X_k|^2 over k = 1..frame/2
    (DC excluded — a biased signal would otherwise always "peak" at 0),
    and `frame_energy` = sum(s_i^2) — exact int64 time-domain energy,
    which Parseval ties to the spectrum the FFT just computed (the unit
    test asserts the identity, so a broken transform cannot pass).

    The language-id/quality analog for audio: frequency fingerprints
    cheap enough to run corpus-wide, per-frame rows ready for groupBy
    laws (modal bin per doc, band histograms).  Map-only — scales with
    bytes scanned, no shuffle.  Stereo de-interleaves to channel 0;
    undecodable or shorter-than-one-frame payloads emit one NULL-stat
    row so the doc stays visible downstream.
    """

    def rows(did, b):
        import numpy as np

        dec = decode_wav_pcm(b)
        if dec is None:
            return [(did, None, None, None, None)]
        rate, channels, s = dec
        mono = s[0::channels].astype(np.int64)
        n_frames = len(mono) // frame
        if n_frames == 0:
            return [(did, None, None, None, None)]
        frames = mono[: n_frames * frame].reshape(n_frames, frame)
        mag2 = np.abs(np.fft.rfft(frames, axis=1)) ** 2
        dom = np.argmax(mag2[:, 1:], axis=1) + 1
        energy = (frames * frames).sum(axis=1)
        return [
            (did, rate, i, int(dom[i]), int(energy[i])) for i in range(n_frames)
        ]

    return map_payloads(df, id_col, bin_col, SPECTROGRAM_SCHEMA, rows)
