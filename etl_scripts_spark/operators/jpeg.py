"""Baseline JPEG (ITU-T T.81) codec in stdlib + numpy — the last codec
seam of the multimodal column closed.

DECODER (`decode_jpeg_pixels`) is the real deliverable: a general
baseline-sequential decoder — marker parse, arbitrary declared DQT
(8/16-bit) and DHT tables, interleaved MCU scan with integer-ratio
sampling factors (each component's H/V divides the frame max — covers
4:4:4/4:2:2/4:2:0 and every layout real encoders emit), restart
markers, run-length/ZRL/EOB entropy coding, dequant, zigzag, vectorized
float64 IDCT, JFIF YCbCr→RGB.  Progressive, arithmetic-coded, and
fractional-ratio (e.g. 4:3) JPEG remain out of scope (declared — raise).

ENCODER (`encode_baseline`) exists to manufacture test fixtures the way
the PNG/WAV fixtures do (multimodal.synthetic_pixel_image_bytes): it
takes ALREADY-QUANTIZED coefficient blocks, so the lossy step is in the
caller's hands and fixtures can be built whose decoded output is
closed-form — a DC-only constant 8×8 block dequantizes and IDCTs to an
EXACT constant (all AC basis terms vanish; the only float op is
qDC·Q00/8 on integers), which is what lets a DuckDB oracle recompute
pixel aggregates from doc_id arithmetic alone (q_multimodal_jpeg_stats).
It emits single-length canonical Huffman tables (valid per the spec —
every baseline file DECLARES its tables in DHT, and the decoder builds
whatever is declared, standard Annex K tables included).

Scale shape: both directions run inside the existing Arrow-batched
codec stages (multimodal.map_payloads under decode_pixel_stats /
payload_source) — the payload never round-trips through the driver,
and partitioning carries over from the upstream scan.

Reference parity: the reference repo ships no image codec at all (its
imaging dropboxes hand files to external OMERO tooling,
drop-boxes/register-omero-dropbox); this is part of the LLM-pipeline
multimodal extension the survey's §2-ext calls for.
"""

from __future__ import annotations

import struct

import numpy as np

# zigzag: position in the entropy-coded stream → natural (row*8+col) index
ZIGZAG = []
for s in range(15):
    rng = range(s, -1, -1) if s % 2 == 0 else range(s + 1)
    for r in rng:
        c = s - r
        if 0 <= r < 8 and 0 <= c < 8:
            ZIGZAG.append(r * 8 + c)
_ZIGZAG_ARR = np.array(ZIGZAG, dtype=np.int64)

# orthonormal DCT-II basis: A[u, x] = c(u)/2 · cos((2x+1)uπ/16)
_A = np.array(
    [
        [
            (np.sqrt(0.5) if u == 0 else 1.0) / 2.0 * np.cos((2 * x + 1) * u * np.pi / 16)
            for x in range(8)
        ]
        for u in range(8)
    ]
)


def _idct_blocks(coeffs: np.ndarray) -> np.ndarray:
    """(n, 8, 8) dequantized coefficients → (n, 8, 8) spatial float64."""
    return np.einsum("ux,nuv,vy->nxy", _A, coeffs, _A)


# --- Huffman -------------------------------------------------------------


def _build_decode_table(bits: list[int], huffval: list[int]) -> dict[tuple[int, int], int]:
    """Canonical Huffman per T.81 C.2: {(length, code) → symbol}."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = huffval[k]
            k += 1
            code += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first reader over entropy-coded data with 0xFF00 de-stuffing;
    stops at any real marker (the caller handles RSTn via expect_rst)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def _fill(self) -> None:
        b = self.data[self.pos]
        if b == 0xFF:
            nxt = self.data[self.pos + 1]
            if nxt != 0x00:
                raise ValueError("hit marker while reading entropy bits")
            self.pos += 2
        else:
            self.pos += 1
        # only called when n == 0, so consumed bits are dropped here —
        # keeping them (acc << 8 | b) grows a bigint linearly with the
        # scan and turns every read_bit into an O(scan) shift
        self.acc = b
        self.n = 8

    def read_bit(self) -> int:
        if self.n == 0:
            self._fill()
        self.n -= 1
        return (self.acc >> self.n) & 1

    def read_bits(self, count: int) -> int:
        v = 0
        for _ in range(count):
            v = (v << 1) | self.read_bit()
        return v

    def decode_symbol(self, table: dict[tuple[int, int], int]) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")

    def expect_rst(self, n: int) -> None:
        """Byte-align (dropping pad bits), consume the RSTn marker."""
        self.n = 0
        if self.data[self.pos] != 0xFF or self.data[self.pos + 1] != 0xD0 + (n % 8):
            raise ValueError("missing restart marker")
        self.pos += 2


def _extend(u: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: magnitude bits → signed value."""
    if size == 0:
        return 0
    return u if u >= (1 << (size - 1)) else u - (1 << size) + 1


# --- Decoder -------------------------------------------------------------


def decode_jpeg_pixels(payload: bytes) -> np.ndarray:
    """Baseline JPEG → (h, w, ch) uint8 (ch = 1 grayscale, 3 RGB).

    Raises ValueError on non-baseline frames (progressive, arithmetic,
    12-bit) and malformed streams — callers (decode_image_pixels) treat
    that as undecodable and keep flowing.  Truncation / missing-table
    internals (IndexError, KeyError, struct.error) are converted here so
    the documented contract is the real one.
    """
    try:
        return _decode_jpeg(payload)
    except (IndexError, KeyError, struct.error) as e:
        raise ValueError(f"malformed JPEG stream: {e!r}") from e


def _decode_jpeg(payload: bytes) -> np.ndarray:
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    qtables: dict[int, np.ndarray] = {}
    htables: dict[tuple[int, int], dict[tuple[int, int], int]] = {}
    frame = None
    restart_interval = 0
    pos = 2
    while True:
        if payload[pos] != 0xFF:
            raise ValueError("marker expected")
        while payload[pos + 1] == 0xFF:  # fill bytes (T.81 B.1.1.2)
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI before SOS
            raise ValueError("no scan data")
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:  # TEM / stray RSTn: standalone
            continue
        seglen = struct.unpack(">H", payload[pos : pos + 2])[0]
        seg = payload[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT — one or more tables, zigzag order
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                if pq:
                    vals = np.frombuffer(seg[i : i + 128], dtype=">u2").astype(np.int64)
                    i += 128
                else:
                    vals = np.frombuffer(seg[i : i + 64], dtype=np.uint8).astype(np.int64)
                    i += 64
                nat = np.zeros(64, dtype=np.int64)
                nat[_ZIGZAG_ARR] = vals
                qtables[tq] = nat.reshape(8, 8)
        elif marker == 0xC4:  # DHT — one or more tables
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1 : i + 17])
                nval = sum(bits)
                huffval = list(seg[i + 17 : i + 17 + nval])
                htables[(tc, th)] = _build_decode_table(bits, huffval)
                i += 17 + nval
        elif marker in (0xC0, 0xC1):  # SOF0 baseline / SOF1 ext. sequential
            precision = seg[0]
            if precision != 8:
                raise ValueError("only 8-bit precision supported")
            h, w = struct.unpack(">HH", seg[1:5])
            ncomp = seg[5]
            comps = []
            for c in range(ncomp):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq})
            frame = {"w": w, "h": h, "comps": comps}
        elif marker in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("non-baseline SOF not supported (declared seam)")
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scan = {}
            for c in range(ns):
                cid, tdta = seg[1 + 2 * c : 3 + 2 * c]
                scan[cid] = (tdta >> 4, tdta & 0x0F)
            break
        # APPn / COM / anything else: skipped

    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    if w == 0 or h == 0 or not comps:
        raise ValueError("empty frame")
    for c in comps:
        if not (1 <= c["h"] <= 4 and 1 <= c["v"] <= 4):
            raise ValueError("sampling factor out of spec range")
    hmax = max(c["h"] for c in comps)
    vmax = max(c["v"] for c in comps)
    for c in comps:
        # np.repeat upsampling below only handles integer ratios; legal
        # fractional mixes (e.g. 4:3) are a declared seam, not silent skew
        if hmax % c["h"] or vmax % c["v"]:
            raise ValueError("non-integer sampling ratio not supported (declared seam)")
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # bound BEFORE allocating: every block costs >= 2 entropy bits (DC
    # symbol + EOB are >= 1 bit each), so a frame whose block count
    # exceeds 4x the remaining payload bytes is guaranteed-truncated —
    # reject it instead of sizing a numpy grid from forged SOF dims
    total_blocks = mcus_x * mcus_y * sum(c["h"] * c["v"] for c in comps)
    if total_blocks > 4 * (len(payload) - pos):
        raise ValueError("declared frame larger than entropy data can encode")
    for c in comps:
        c["blocks"] = np.zeros((mcus_y * c["v"], mcus_x * c["h"], 64), dtype=np.int64)
        c["dc_table"], c["ac_table"] = (
            htables[(0, scan[c["id"]][0])],
            htables[(1, scan[c["id"]][1])],
        )
        c["pred"] = 0

    reader = _BitReader(payload, pos)
    n_rst = 0
    for mcu in range(mcus_x * mcus_y):
        if restart_interval and mcu and mcu % restart_interval == 0:
            reader.expect_rst(n_rst)
            n_rst += 1
            for c in comps:
                c["pred"] = 0
        my, mx = divmod(mcu, mcus_x)
        for c in comps:
            for by in range(c["v"]):
                for bx in range(c["h"]):
                    blk = c["blocks"][my * c["v"] + by, mx * c["h"] + bx]
                    size = reader.decode_symbol(c["dc_table"])
                    c["pred"] += _extend(reader.read_bits(size), size)
                    blk[0] = c["pred"]
                    k = 1
                    while k < 64:
                        rs = reader.decode_symbol(c["ac_table"])
                        run, size = rs >> 4, rs & 0x0F
                        if size == 0:
                            if run == 15:  # ZRL: 16 zeros
                                k += 16
                                continue
                            break  # EOB
                        k += run
                        if k > 63:
                            raise ValueError("AC run past block end")
                        blk[k] = _extend(reader.read_bits(size), size)
                        k += 1

    planes = []
    for c in comps:
        # blocks hold ZIGZAG-ordered coefficients; dequantize in zigzag
        # (table reordered to match), then scatter to natural layout
        qzz = qtables[c["tq"]].reshape(64)[_ZIGZAG_ARR]
        grid_h, grid_w, _ = c["blocks"].shape
        flat_zz = (c["blocks"].reshape(-1, 64) * qzz).astype(np.float64)
        nat = np.zeros_like(flat_zz)
        nat[:, _ZIGZAG_ARR] = flat_zz
        spatial = _idct_blocks(nat.reshape(-1, 8, 8)) + 128.0
        plane = (
            spatial.reshape(grid_h, grid_w, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(grid_h * 8, grid_w * 8)
        )
        plane = np.repeat(np.repeat(plane, vmax // c["v"], axis=0), hmax // c["h"], axis=1)
        planes.append(plane[:h, :w])

    if len(planes) == 1:
        gray = np.clip(np.rint(planes[0]), 0, 255).astype(np.uint8)
        return gray[:, :, None]
    if len(planes) != 3:
        raise ValueError("only 1- or 3-component frames supported")
    y, cb, cr = planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    return np.clip(np.rint(np.stack([r, g, b], axis=2)), 0, 255).astype(np.uint8)


# --- Encoder (fixture manufacture) ---------------------------------------


def _single_length_table(symbols: list[int]) -> tuple[list[int], list[int], dict[int, tuple[int, int]]]:
    """All symbols at one canonical length L (2^L ≥ n, and the last code
    is never the all-ones code): (BITS, HUFFVAL, {sym → (code, L)})."""
    n = len(symbols)
    length = max(2, (n + 1).bit_length())  # +1 keeps all-ones unused
    bits = [0] * 16
    bits[length - 1] = n
    enc = {sym: (i << 0, length) for i, sym in enumerate(symbols)}
    return bits, list(symbols), enc


class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, count: int) -> None:
        for i in range(count - 1, -1, -1):
            self.acc = (self.acc << 1) | ((value >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc = 0
                self.n = 0

    def align(self) -> None:
        while self.n:
            self.write(1, 1)


def _magnitude(v: int) -> tuple[int, int]:
    """value → (size category, magnitude bits) per T.81 F.1.2.1."""
    size = abs(v).bit_length()
    return size, (v if v >= 0 else v + (1 << size) - 1)


def encode_baseline(
    comp_blocks: list[np.ndarray],
    w: int,
    h: int,
    qtables: list[np.ndarray],
    sampling: list[tuple[int, int]] | None = None,
    restart_interval: int = 0,
) -> bytes:
    """Assemble a baseline JFIF file from ALREADY-QUANTIZED coefficients.

    comp_blocks[i]: (mcus_y·Vi, mcus_x·Hi, 8, 8) int coefficients in
    natural layout; component i uses qtables[min(i, 1)] (the luma/chroma
    split real encoders use).  Quantization — the lossy step — is the
    caller's choice, which is what makes closed-form fixtures possible.
    """
    ncomp = len(comp_blocks)
    sampling = sampling or [(1, 1)] * ncomp
    dc_syms = list(range(12))
    ac_syms = [0x00, 0xF0] + [(r << 4) | s for r in range(16) for s in range(1, 11)]
    dc_bits, dc_vals, dc_enc = _single_length_table(dc_syms)
    ac_bits, ac_vals, ac_enc = _single_length_table(ac_syms)

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, q in enumerate(qtables):
        zz = np.asarray(q, dtype=np.int64).reshape(64)[_ZIGZAG_ARR]
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq]) + bytes(int(v) for v in zz)
    sof = struct.pack(">BHHB", 8, h, w, ncomp)
    for i in range(ncomp):
        sof += bytes([i + 1, (sampling[i][0] << 4) | sampling[i][1], min(i, 1)])
    out += b"\xff\xc0" + struct.pack(">H", 2 + len(sof)) + sof
    for tc, (bits, vals) in ((0, (dc_bits, dc_vals)), (1, (ac_bits, ac_vals))):
        seg = bytes([tc << 4]) + bytes(bits) + bytes(vals)
        out += b"\xff\xc4" + struct.pack(">H", 2 + len(seg)) + seg
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    sos = bytes([ncomp]) + b"".join(bytes([i + 1, 0x00]) for i in range(ncomp)) + b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", 2 + len(sos)) + sos

    hmax = max(s[0] for s in sampling)
    vmax = max(s[1] for s in sampling)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    writer = _BitWriter()
    preds = [0] * ncomp
    n_rst = 0
    for mcu in range(mcus_x * mcus_y):
        if restart_interval and mcu and mcu % restart_interval == 0:
            writer.align()
            out += writer.out
            writer = _BitWriter()
            out += bytes([0xFF, 0xD0 + (n_rst % 8)])
            n_rst += 1
            preds = [0] * ncomp
        my, mx = divmod(mcu, mcus_x)
        for i in range(ncomp):
            hi, vi = sampling[i]
            for by in range(vi):
                for bx in range(hi):
                    blk = np.asarray(comp_blocks[i][my * vi + by, mx * hi + bx]).reshape(64)
                    zz = blk[_ZIGZAG_ARR]
                    size, mbits = _magnitude(int(zz[0]) - preds[i])
                    preds[i] = int(zz[0])
                    code, length = dc_enc[size]
                    writer.write(code, length)
                    writer.write(mbits, size)
                    nz = np.nonzero(zz[1:])[0]
                    k = 1
                    for idx in nz:
                        run = int(idx) + 1 - k
                        while run >= 16:
                            code, length = ac_enc[0xF0]
                            writer.write(code, length)
                            run -= 16
                        size, mbits = _magnitude(int(zz[idx + 1]))
                        code, length = ac_enc[(run << 4) | size]
                        writer.write(code, length)
                        writer.write(mbits, size)
                        k = int(idx) + 2
                    if k < 64:
                        code, length = ac_enc[0x00]  # EOB
                        writer.write(code, length)
    writer.align()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# --- Fixture law ---------------------------------------------------------


def synthetic_jpeg_bytes(doc_id: int) -> bytes:
    """Decodable baseline-JPEG fixture with a closed-form pixel law:
    every 8×8 block is the constant v(bx, by) = (5·bx + 11·by + doc_id)
    mod 256 (stored as a DC-only quantized coefficient with Q00 = 8, so
    decode is EXACT — see module docstring).  doc_id picks the shape:

    - w = 16 + d%9, h = 16 + 3d%9  — non-multiples of 8, so edge-block
      cropping is exercised by most fixtures,
    - d odd → 3-component YCbCr 4:4:4 with zero chroma (decodes to
      r=g=b=v exactly), d even → grayscale,
    - d % 4 == 0 → restart markers every 3 MCUs.
    """
    d = int(doc_id)
    w = 16 + d % 9
    h = 16 + (3 * d) % 9
    mcx, mcy = -(-w // 8), -(-h // 8)
    bx = np.arange(mcx, dtype=np.int64)
    by = np.arange(mcy, dtype=np.int64)
    v = (5 * bx[None, :] + 11 * by[:, None] + d) % 256
    luma = np.zeros((mcy, mcx, 8, 8), dtype=np.int64)
    luma[:, :, 0, 0] = v - 128  # DC-only; Q00 = 8 makes IDCT exact
    q = np.full((8, 8), 16, dtype=np.int64)
    q[0, 0] = 8
    rst = 3 if d % 4 == 0 else 0
    if d % 2 == 0:
        return encode_baseline([luma], w, h, [q], restart_interval=rst)
    chroma = np.zeros_like(luma)  # DC 0 → decodes to 128 → zero chroma
    return encode_baseline([luma, chroma, chroma], w, h, [q, q], restart_interval=rst)
