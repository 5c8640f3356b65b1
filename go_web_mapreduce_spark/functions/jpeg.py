"""Baseline JPEG (ITU-T T.81) codec — grayscale, 4:4:4 color, and 4:2:0 — in pure
numpy + stdlib.

No libjpeg/PIL exists in this container, but baseline JPEG needs none of
them: the entropy layer is canonical Huffman over a public code-table
format, the transform is an 8×8 DCT-II, and the container is a marker
stream — all expressible with ``struct``/numpy. This module implements:

- :func:`encode_jpeg_gray` — a minimal but standard-conforming encoder
  (SOI/APP0/DQT/SOF0/DHT/SOS/EOI, Annex-K example Huffman tables, byte
  stuffing), used by the multimodal pipeline to synthesize genuine JPEG
  payloads any image viewer opens.
- :func:`encode_jpeg_color` — the 3-component sibling: genuine color
  JFIF, 4:4:4 or 4:2:0 chroma-subsampled (interleaved Y/Cb/Cr MCUs,
  separate luma/chroma quantization tables, ITU-T T.871 color transform,
  per-component DC predictors, 2×2 box-averaged chroma when subsampling).
- :func:`decode_jpeg` — a general baseline decoder for 1-component
  (grayscale), 3-component 4:4:4, and 3-component 4:2:0 interleaved
  scans: marker walk, DQT/DHT/SOF0/SOS parse, canonical Huffman decode of
  DC categories + AC run/size pairs (EOB and ZRL included), de-zigzag,
  dequantize, IDCT via the orthonormal basis matrix, chroma upsample,
  color transform, level shift + clip. Other samplings (4:2:2/4:1:1),
  progressive mode, and restart intervals raise ``ValueError`` — a
  partial honest decoder, like the PNG path's non-interlaced restriction
  (operators/multimodal.py).

Exactness: JPEG is lossy in general, but with an all-ones quantization
table a block-constant 8×8 tile has a single integral DCT coefficient
(DC = 8·(v−128), every AC exactly 0), so encode→decode is bit-exact for
block-constant images — that is what the q_multimodal_jpeg oracle relies
on. For arbitrary content the decoder is exact w.r.t. the quantized
coefficients; tests assert decode(encode(x)) equals the independent
round(idct(round(fdct(x))))-reference, which pins the whole entropy layer
(Huffman, bitstream, stuffing, zigzag) bit-for-bit.

The Huffman tables are the "example" luminance tables published in
ITU-T T.81 Annex K.3 — part of the public standard, present in virtually
every baseline JPEG ever written.
"""

from __future__ import annotations

import struct

import numpy as np

# ITU-T T.81 Annex K.3.3.1 — example luminance DC table: BITS (codes per
# length 1..16) and HUFFVAL (symbols in code order)
DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
DC_VALS = list(range(12))

# Annex K.3.3.2 — example luminance AC table
AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# zigzag scan order: ZIGZAG[i] = (row, col) of the i-th coefficient
_Z = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
)

# orthonormal 8×8 DCT-II basis: row u of M is C(u)/2 · cos((2x+1)uπ/16);
# FDCT of block B is M @ B @ M.T, IDCT of F is M.T @ F @ M
_M = np.zeros((8, 8))
for _u in range(8):
    _c = (1.0 / np.sqrt(2.0)) if _u == 0 else 1.0
    for _x in range(8):
        _M[_u, _x] = 0.5 * _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) per the canonical JPEG code assignment."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


_DC_ENC = _canonical_codes(DC_BITS, DC_VALS)
_AC_ENC = _canonical_codes(AC_BITS, AC_VALS)


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per the spec
        return bytes(self.buf)


def _category(v: int) -> int:
    """JPEG magnitude category: smallest s with |v| < 2**s."""
    return int(abs(v)).bit_length()


def _seg(marker: int, payload: bytes) -> bytes:
    return struct.pack(">HH", marker, len(payload) + 2) + payload


def _encode_block(bw: "_BitWriter", block, qtab, prev_dc: int) -> int:
    """FDCT → quantize → Huffman-encode one level-shifted 8×8 block;
    returns the new DC predictor."""
    coef = _M @ block @ _M.T
    # quantize in zigzag order: zz[i] = coef[zigzag position i]
    flat = coef.reshape(64)
    zz = np.round(flat[_Z] / qtab).astype(np.int64)
    # DC
    diff = int(zz[0]) - prev_dc
    new_dc = int(zz[0])
    s = _category(diff)
    code, ln = _DC_ENC[s]
    bw.put(code, ln)
    if s:
        bw.put(diff if diff >= 0 else diff + (1 << s) - 1, s)
    # AC: run-length of zeros + size, ZRL for 16 zeros, EOB at end
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz[1:]) else 0
    for i in range(1, 64):
        v = int(zz[i])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, ln = _AC_ENC[0xF0]  # ZRL
            bw.put(code, ln)
            run -= 16
        s = _category(v)
        if s > 10:
            # the standard AC table tops out at size 10 (|v| ≤ 1023);
            # reachable only at quant=1 on pathological ±128 blocks
            raise ValueError(
                "AC coefficient magnitude needs size > 10; raise quant"
            )
        code, ln = _AC_ENC[(run << 4) | s]
        bw.put(code, ln)
        bw.put(v if v >= 0 else v + (1 << s) - 1, s)
        run = 0
        if i == last_nz:
            break
    if last_nz < 63:
        code, ln = _AC_ENC[0x00]  # EOB
        bw.put(code, ln)
    return new_dc


def encode_jpeg_gray(pixels, quant: int = 1) -> bytes:
    """Encode an (h, w) uint8 grayscale array as a baseline JFIF JPEG.
    ``quant`` fills a uniform quantization table (1 → numerically lossless
    for block-constant content). Dimensions must be multiples of 8 (no
    edge-block replication — the synthesis path always tiles to 8)."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape
    if h % 8 or w % 8:
        raise ValueError("encode_jpeg_gray requires multiple-of-8 dimensions")
    if not 1 <= quant <= 255:
        # DQT stores 8-bit entries; >255 would wrap via astype(uint8) and
        # emit a file whose stored table disagrees with the one applied
        raise ValueError("quant must be in [1, 255] (8-bit DQT entries)")
    qtab = np.full(64, quant, dtype=np.int32)

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xFFDB, b"\x00" + qtab.astype(np.uint8).tobytes())  # DQT id 0
    out += _seg(0xFFC0, struct.pack(">BHHB", 8, h, w, 1) + b"\x01\x11\x00")
    out += _seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += _seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    out += _seg(0xFFDA, b"\x01\x01\x00\x00\x3f\x00")  # SOS: 1 comp, tables 0/0

    bw = _BitWriter()
    prev_dc = 0
    shifted = px.astype(np.float64) - 128.0
    for by in range(0, h, 8):
        for bx in range(0, w, 8):
            prev_dc = _encode_block(
                bw, shifted[by : by + 8, bx : bx + 8], qtab, prev_dc
            )
    out += bw.flush()
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# JFIF/JPEG color transform (ITU-T T.871): exact float64 both directions
_RGB2YCC = np.array(
    [
        [0.299, 0.587, 0.114],
        [-0.168735892, -0.331264108, 0.5],
        [0.5, -0.418687589, -0.081312411],
    ]
)


def encode_jpeg_color(
    pixels,
    quant: int = 1,
    chroma_quant: int | None = None,
    subsample: bool = False,
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a genuine 3-component
    baseline JFIF JPEG: 4:4:4 by default, or 4:2:0 with ``subsample=True``
    (Y at 2×2 sampling, chroma box-averaged 2×2 — the layout virtually
    every camera JPEG uses). Interleaved MCUs, separate luma/chroma
    quantization tables, per-component DC predictors. The Annex-K
    luminance Huffman tables serve all three components (spec-legal: the
    SOS component spec binds tables)."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w, ch = px.shape
    if ch != 3:
        raise ValueError("encode_jpeg_color expects (h, w, 3) RGB")
    mcu = 16 if subsample else 8
    if h % mcu or w % mcu:
        raise ValueError(
            f"encode_jpeg_color requires multiple-of-{mcu} dimensions"
        )
    cq = quant if chroma_quant is None else chroma_quant
    if not 1 <= quant <= 255 or not 1 <= cq <= 255:
        # DQT stores 8-bit entries; out-of-range values would wrap via
        # astype(uint8), silently desyncing stored vs applied tables
        raise ValueError(
            "quant and chroma_quant must be in [1, 255] (8-bit DQT entries)"
        )
    qtabs = [np.full(64, quant, np.int32), np.full(64, cq, np.int32)]

    rgb = px.astype(np.float64)
    ycc = np.tensordot(rgb, _RGB2YCC.T, axes=1)
    y = ycc[..., 0] - 128.0  # Cb/Cr come out of the transform already
    cb, cr = ycc[..., 1], ycc[..., 2]  # centered on 0; Y is level-shifted
    if subsample:
        cb = (cb[0::2, 0::2] + cb[0::2, 1::2] + cb[1::2, 0::2] + cb[1::2, 1::2]) / 4.0
        cr = (cr[0::2, 0::2] + cr[0::2, 1::2] + cr[1::2, 0::2] + cr[1::2, 1::2]) / 4.0
    y_samp = 0x22 if subsample else 0x11

    out = bytearray()
    out += b"\xff\xd8"
    out += _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += _seg(0xFFDB, b"\x00" + qtabs[0].astype(np.uint8).tobytes())
    out += _seg(0xFFDB, b"\x01" + qtabs[1].astype(np.uint8).tobytes())
    # SOF0: comps (1: Y, qtab 0) (2: Cb, qtab 1) (3: Cr, qtab 1)
    out += _seg(
        0xFFC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, y_samp, 0]) + b"\x02\x11\x01" + b"\x03\x11\x01",
    )
    out += _seg(0xFFC4, b"\x00" + bytes(DC_BITS) + bytes(DC_VALS))
    out += _seg(0xFFC4, b"\x10" + bytes(AC_BITS) + bytes(AC_VALS))
    # SOS: every component uses DC table 0 / AC table 0
    out += _seg(0xFFDA, b"\x03\x01\x00\x02\x00\x03\x00\x00\x3f\x00")

    bw = _BitWriter()
    prev_dc = [0, 0, 0]
    for by in range(0, h, mcu):
        for bx in range(0, w, mcu):
            if subsample:
                # MCU = 4 Y blocks (raster order) + 1 Cb + 1 Cr
                for dy in (0, 8):
                    for dx in (0, 8):
                        prev_dc[0] = _encode_block(
                            bw,
                            y[by + dy : by + dy + 8, bx + dx : bx + dx + 8],
                            qtabs[0],
                            prev_dc[0],
                        )
                cy, cx = by // 2, bx // 2
                prev_dc[1] = _encode_block(
                    bw, cb[cy : cy + 8, cx : cx + 8], qtabs[1], prev_dc[1]
                )
                prev_dc[2] = _encode_block(
                    bw, cr[cy : cy + 8, cx : cx + 8], qtabs[1], prev_dc[2]
                )
            else:
                for ci, plane in enumerate((y, cb, cr)):
                    prev_dc[ci] = _encode_block(
                        bw,
                        plane[by : by + 8, bx : bx + 8],
                        qtabs[0 if ci == 0 else 1],
                        prev_dc[ci],
                    )
    out += bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


class _BitReader:
    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def _fill(self) -> None:
        while self.nbits <= 24 and self.pos < len(self.data):
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                nxt = self.data[self.pos] if self.pos < len(self.data) else 0xD9
                if nxt == 0x00:
                    self.pos += 1  # stuffed byte
                else:
                    # a real marker terminates entropy data; rewind and pad
                    self.pos -= 1
                    self.acc = (self.acc << 8) | 0xFF
                    self.nbits += 8
                    continue
            self.acc = (self.acc << 8) | b
            self.nbits += 8

    def bits(self, n: int) -> int:
        if n == 0:
            return 0
        self._fill()
        if self.nbits < n:
            raise ValueError("JPEG entropy stream exhausted")
        v = (self.acc >> (self.nbits - n)) & ((1 << n) - 1)
        self.nbits -= n
        self.acc &= (1 << self.nbits) - 1
        return v


def _decode_table(bits: list[int], vals: list[int]):
    """(code, length) → symbol lookup dicts keyed by length for the reader."""
    enc = _canonical_codes(bits, vals)
    by_len: dict[int, dict[int, int]] = {}
    for sym, (code, ln) in enc.items():
        by_len.setdefault(ln, {})[code] = sym
    return by_len


def _read_symbol(br: _BitReader, table) -> int:
    code = 0
    for ln in range(1, 17):
        code = (code << 1) | br.bits(1)
        hit = table.get(ln)
        if hit is not None and code in hit:
            return hit[code]
    raise ValueError("invalid JPEG Huffman code")


def _extend(v: int, s: int) -> int:
    """Map an s-bit magnitude field to its signed value (T.81 F.12)."""
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_block(br: "_BitReader", dct, act, qt, prev_dc: int):
    """Huffman-decode one block → (dequantized 8×8 float block pre-level-
    shift, new DC predictor)."""
    zz = np.zeros(64, dtype=np.int64)
    s = _read_symbol(br, dct)
    diff = _extend(br.bits(s), s) if s else 0
    prev_dc += diff
    zz[0] = prev_dc
    i = 1
    while i < 64:
        rs = _read_symbol(br, act)
        if rs == 0x00:  # EOB
            break
        if rs == 0xF0:  # ZRL
            i += 16
            continue
        run, size = rs >> 4, rs & 0x0F
        i += run
        if i > 63:
            raise ValueError("AC coefficient index out of range")
        zz[i] = _extend(br.bits(size), size)
        i += 1
    flat = np.zeros(64, dtype=np.float64)
    flat[_Z] = zz * qt  # zz[i] lands at flat position _Z[i]
    return _M.T @ flat.reshape(8, 8) @ _M, prev_dc


def decode_jpeg(data: bytes):
    """Decode a baseline JPEG: single-component (grayscale) → (h, w)
    uint8; three-component 4:4:4 or 4:2:0 interleaved (YCbCr) →
    (h, w, 3) uint8 RGB. General over DQT/DHT contents (parsed, not
    assumed); raises ValueError for progressive scans, other samplings
    (4:2:2/4:1:1), or restart intervals — honest partial coverage, like
    the PNG path's non-interlaced restriction."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtabs: dict[int, np.ndarray] = {}
    htabs: dict[tuple[int, int], dict] = {}
    h = w = None
    comps: list[tuple[int, int, int]] = []  # (id, sampling, quant-table id)
    scan_tables: dict[int, tuple[int, int]] = {}  # comp id → (dc, ac)
    scan_order: list[int] = []
    scan_start = None
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            raise ValueError("marker expected in JPEG stream")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        seglen = struct.unpack_from(">H", data, pos + 2)[0]
        body = data[pos + 4 : pos + 2 + seglen]
        if marker == 0xDB:  # DQT — possibly several tables per segment
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0x0F
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                qtabs[tq] = np.frombuffer(body, np.uint8, 64, off + 1).astype(
                    np.int32
                )
                off += 65
        elif marker == 0xC4:  # DHT — possibly several tables per segment
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0x0F
                bits = list(body[off + 1 : off + 17])
                n = sum(bits)
                vals = list(body[off + 17 : off + 17 + n])
                htabs[(tc, th)] = _decode_table(bits, vals)
                off += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            _prec, h, w, ncomp = struct.unpack_from(">BHHB", body, 0)
            if ncomp not in (1, 3):
                raise ValueError("only 1- or 3-component JPEG supported")
            comps = [
                (body[6 + 3 * c], body[7 + 3 * c], body[8 + 3 * c])
                for c in range(ncomp)
            ]
            samps = [samp for _cid, samp, _q in comps]
            if not (
                samps == [0x11] * ncomp
                or (ncomp == 3 and samps == [0x22, 0x11, 0x11])
            ):
                raise ValueError(
                    "only 4:4:4 and 4:2:0 chroma subsampling supported"
                )
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA,
                        0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError("only baseline sequential (SOF0) JPEG supported")
        elif marker == 0xDD:
            raise ValueError("restart intervals unsupported")
        elif marker == 0xDA:  # SOS
            ns = body[0]
            for c in range(ns):
                cid = body[1 + 2 * c]
                scan_tables[cid] = (body[2 + 2 * c] >> 4, body[2 + 2 * c] & 0x0F)
                scan_order.append(cid)
            scan_start = pos + 2 + seglen
            break
        pos += 2 + seglen
    if scan_start is None or h is None:
        raise ValueError("JPEG missing SOS/SOF0")
    if h % 8 or w % 8:
        raise ValueError("non-multiple-of-8 JPEG dimensions unsupported")
    if scan_order != [cid for cid, _s, _q in comps]:
        raise ValueError("SOS component order must match SOF0")

    br = _BitReader(data[scan_start:])
    ncomp = len(comps)
    is_420 = ncomp == 3 and comps[0][1] == 0x22
    prev_dc = [0] * ncomp
    if is_420:
        if h % 16 or w % 16:
            raise ValueError("4:2:0 needs multiple-of-16 dimensions here")
        planes = [
            np.empty((h, w), np.float64),
            np.empty((h // 2, w // 2), np.float64),
            np.empty((h // 2, w // 2), np.float64),
        ]
        for by in range(0, h, 16):
            for bx in range(0, w, 16):
                # MCU = 4 Y blocks (raster order) + 1 Cb + 1 Cr
                dc_id, ac_id = scan_tables[comps[0][0]]
                for dy in (0, 8):
                    for dx in (0, 8):
                        block, prev_dc[0] = _decode_block(
                            br, htabs[(0, dc_id)], htabs[(1, ac_id)],
                            qtabs[comps[0][2]], prev_dc[0],
                        )
                        planes[0][
                            by + dy : by + dy + 8, bx + dx : bx + dx + 8
                        ] = block
                for ci in (1, 2):
                    dc_id, ac_id = scan_tables[comps[ci][0]]
                    block, prev_dc[ci] = _decode_block(
                        br, htabs[(0, dc_id)], htabs[(1, ac_id)],
                        qtabs[comps[ci][2]], prev_dc[ci],
                    )
                    planes[ci][
                        by // 2 : by // 2 + 8, bx // 2 : bx // 2 + 8
                    ] = block
        # nearest-neighbor chroma upsampling back to full resolution
        planes[1] = planes[1].repeat(2, 0).repeat(2, 1)
        planes[2] = planes[2].repeat(2, 0).repeat(2, 1)
    else:
        planes = [np.empty((h, w), dtype=np.float64) for _ in range(ncomp)]
        for by in range(0, h, 8):
            for bx in range(0, w, 8):  # one MCU: one 8×8 block per comp
                for ci, (cid, _samp, qid) in enumerate(comps):
                    dc_id, ac_id = scan_tables[cid]
                    block, prev_dc[ci] = _decode_block(
                        br, htabs[(0, dc_id)], htabs[(1, ac_id)], qtabs[qid],
                        prev_dc[ci],
                    )
                    planes[ci][by : by + 8, bx : bx + 8] = block
    if ncomp == 1:
        return np.clip(np.round(planes[0] + 128.0), 0, 255).astype(np.uint8)
    # ITU-T T.871 inverse transform; chroma blocks decode already centered
    y, cb, cr = planes[0] + 128.0, planes[1], planes[2]
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(
        np.uint8
    )
