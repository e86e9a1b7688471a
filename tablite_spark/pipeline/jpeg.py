"""Minimal real JPEG codec — stdlib + numpy only.

Implements the public JPEG specification (ITU-T T.81 / ISO 10918-1)
for the subset that dominates web corpora: baseline sequential DCT
(SOF0/1) AND, since round 6, PROGRESSIVE DCT (SOF2) — spectral
selection, successive approximation (DC and AC refinement scans),
EOB runs, interleaved and non-interleaved scans — 8-bit, greyscale
or YCbCr with 1x1/2x1/1x2/2x2 sampling factors, restart intervals,
standard or custom Huffman tables. Both paths share one engine:
scans accumulate into per-component coefficient planes, then a
single vectorized dequantize+IDCT reconstructs pixels. This makes
the multimodal image path REAL for JPEG payloads in this container
(no PIL needed): `decode_images` reads true dimensions from SOF and
`extract_image_features` computes true pixel statistics — including
for progressive files (~10% of web JPEGs), which previously fell
back to the byte histogram.

The encoders (used for test fixtures and roundtrips) write baseline
4:4:4/4:2:0 JFIF with the Annex K tables (``jpeg_encode``) and
progressive 4:4:4/4:2:0 with a full scan script and optional
restart intervals (``jpeg_encode_progressive``) — so the decoder's
subsampled non-interleaved traversal and RST handling are
roundtrip-tested, not just spec-derived.

Not a general-purpose imaging library: arithmetic coding, 12-bit,
hierarchical, lossless, and CMYK raise ValueError — ``jpeg_header``
still parses dimensions from EVERY SOF variant (all share the SOF0
frame-header layout).

Reference parity note: the reference engine (root-11/tablite) has no
multimodal surface; this exists for the training-data-pipeline north
star, built from the public spec like pipeline/png.py.
"""

from __future__ import annotations

import struct
from typing import NamedTuple

import numpy as np

# ---------------------------------------------------------------- tables
# JPEG Annex K example tables (part of the public spec).

_QUANT_LUM = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99], dtype=np.int32)

_QUANT_CHROM = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99], dtype=np.int32)

# zig-zag order: index i of this array = position in the scan stream,
# value = position in row-major 8x8
_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63], dtype=np.int32)

# standard Huffman tables: (bits[1..16] counts, values)
_DC_LUM = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
           list(range(12)))
_DC_CHROM = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
             list(range(12)))
_AC_LUM = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_AC_CHROM = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8x8 DCT-II matrix: X = T @ x @ T.T."""
    k = np.arange(8)
    t = np.cos((2 * k[None, :] + 1) * k[:, None] * np.pi / 16)
    t[0] *= 1 / np.sqrt(2)
    return t * 0.5


_T = _dct_matrix()


def _build_huffman_codes(bits, values):
    """Canonical Huffman per T.81 Annex C: {symbol: (code, length)}."""
    codes, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


def _build_huffman_lut(bits, values):
    """Decode map {(length, code): symbol}."""
    lut, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lut[(length, code)] = values[k]
            code += 1
            k += 1
        code <<= 1
    return lut


# ---------------------------------------------------------------- encode

class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self.nbits -= 8
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1s

    def restart(self, i: int) -> None:
        """Byte-align, then write restart marker RST(i mod 8)."""
        self.flush()
        self.buf += bytes([0xFF, 0xD0 + i % 8])


def _quantize_planes(planes, samp, qts, h, w, hmax, vmax,
                     mcux, mcuy):
    """Batched DCT + quantization shared by BOTH encoders, so their
    quantized coefficients are bit-identical by construction. (A
    per-block ``_T @ b @ _T.T`` and a batched einsum can disagree by
    one ulp, which flips ``np.round`` exactly at a .5 boundary — the
    progressive fuzz test caught a DC differing between the two
    encode paths for the same image.)

    Returns (coefs, nonint): per component a (mcuy*sv, mcux*sh, 64)
    int32 array in ZIGZAG order, and its non-interleaved (bh, bw)
    block dims."""
    def _pad_to(p: np.ndarray, th: int, tw: int) -> np.ndarray:
        ph, pw = p.shape
        return np.pad(p, ((0, th - ph), (0, tw - pw)), mode="edge")

    coefs, nonint = [], []
    for (sh, sv), qt, plane in zip(samp, qts, planes):
        if (sh, sv) != (hmax, vmax):  # downsample by box average
            fy, fx = vmax // sv, hmax // sh
            p = _pad_to(plane, (h + fy - 1) // fy * fy,
                        (w + fx - 1) // fx * fx)
            p = p.reshape(p.shape[0] // fy, fy, p.shape[1] // fx, fx) \
                .mean(axis=(1, 3))
        else:
            p = plane
        cw = (w * sh + hmax - 1) // hmax
        ch = (h * sv + vmax - 1) // vmax
        nonint.append(((ch + 7) // 8, (cw + 7) // 8))
        p = _pad_to(p, mcuy * sv * 8, mcux * sh * 8)
        gy, gx = mcuy * sv, mcux * sh
        blocks = p.reshape(gy, 8, gx, 8).transpose(0, 2, 1, 3) - 128.0
        cf = np.einsum("ij,abjk,kl->abil", _T, blocks, _T.T)
        quant = np.round(
            cf / np.asarray(qt).reshape(8, 8)).astype(np.int32)
        coefs.append(quant.reshape(gy, gx, 64)[:, :, _ZIGZAG])
    return coefs, nonint


def _magnitude(v: int) -> tuple[int, int]:
    """(size, amplitude bits) per T.81 F.1.2.1 (negative = ones-complement)."""
    if v == 0:
        return 0, 0
    size = int(v).bit_length() if v > 0 else int(-v).bit_length()
    amp = v if v > 0 else v + (1 << size) - 1
    return size, amp


class _Frame(NamedTuple):
    """One image after the encoder front end, before entropy coding."""
    h: int
    w: int
    c: int          # components: 1 (greyscale) or 3 (YCbCr)
    samp: list      # (h, v) sampling factors per component
    tsel: list      # quantization/Huffman table id per component
    qtabs: list     # quantization table per table id
    coefs: list     # per component, (rows, cols, 64) zigzag blocks
    nonint: list    # per component, its non-interleaved (bh, bw)
    mcux: int
    mcuy: int


def _encode_frame(pixels: np.ndarray, quality: int,
                  subsample: str) -> _Frame:
    """The front end of both encoders: the Annex K tables scaled by
    ``quality`` (the public IJG formula), RGB -> YCbCr (JFIF), the
    sampling factors and MCU grid, and the quantized coefficients."""
    arr = np.asarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    if c not in (1, 3):
        raise ValueError(f"unsupported channel count {c}")
    if subsample not in ("444", "420"):
        raise ValueError(f"subsample must be 444 or 420, got {subsample}")

    q = max(1, min(100, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    qtabs = [np.clip((_QUANT_LUM * scale + 50) // 100, 1, 255),
             np.clip((_QUANT_CHROM * scale + 50) // 100, 1, 255)]

    if c == 3:
        rgb = arr.astype(np.float64)
        y = 0.299 * rgb[:, :, 0] + 0.587 * rgb[:, :, 1] + 0.114 * rgb[:, :, 2]
        cb = 128 - 0.168736 * rgb[:, :, 0] - 0.331264 * rgb[:, :, 1] \
            + 0.5 * rgb[:, :, 2]
        cr = 128 + 0.5 * rgb[:, :, 0] - 0.418688 * rgb[:, :, 1] \
            - 0.081312 * rgb[:, :, 2]
        planes = [y, cb, cr]
        tsel = [0, 1, 1]
        samp = [(2, 2), (1, 1), (1, 1)] if subsample == "420" \
            else [(1, 1)] * 3
    else:
        planes = [arr[:, :, 0].astype(np.float64)]
        tsel = [0]
        samp = [(1, 1)]

    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcux = (w + 8 * hmax - 1) // (8 * hmax)
    mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    coefs, nonint = _quantize_planes(planes, samp, [qtabs[t] for t in tsel],
                                     h, w, hmax, vmax, mcux, mcuy)
    return _Frame(h, w, c, samp, tsel, qtabs, coefs, nonint, mcux, mcuy)


def _seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">HH", marker, len(body) + 2) + body


def _head(fr: _Frame, sof: int, restart_interval: int,
          huffman) -> list[bytes]:
    """SOI, JFIF APP0, DQT, SOF, DRI and DHT segments. ``huffman``
    lists (class, table id, (bits, values)); tables no component
    selects (the chroma ones of a greyscale frame) are left out."""
    out = [b"\xff\xd8",
           _seg(0xFFE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")]
    for tid in sorted(set(fr.tsel)):
        out.append(_seg(0xFFDB, bytes([tid])
                        + bytes(fr.qtabs[tid][_ZIGZAG].astype(np.uint8))))
    comp = b"".join(struct.pack("BBB", i + 1, sh << 4 | sv, fr.tsel[i])
                    for i, (sh, sv) in enumerate(fr.samp))
    out.append(_seg(sof, struct.pack(">BHHB", 8, fr.h, fr.w, fr.c) + comp))
    if restart_interval:
        out.append(_seg(0xFFDD, struct.pack(">H", restart_interval)))
    for cls, tid, (bits, values) in huffman:
        if tid in fr.tsel:
            out.append(_seg(0xFFC4, bytes([cls << 4 | tid]) + bytes(bits)
                            + bytes(values)))
    return out


def _sos(fr: _Frame, comps, ss: int, se: int, ah: int = 0, al: int = 0,
         ac_table: int | None = None) -> bytes:
    """SOS segment: each component's own DC table, and ``ac_table``
    (default: its own) for AC."""
    body = bytes([len(comps)])
    for ci in comps:
        ta = fr.tsel[ci] if ac_table is None else ac_table
        body += bytes([ci + 1, fr.tsel[ci] << 4 | ta])
    return _seg(0xFFDA, body + bytes([ss, se, ah << 4 | al]))


def _mcus(bw: _BitWriter, fr: _Frame, restart_interval: int):
    """The interleaved MCU raster. Yields, per MCU, whether a restart
    marker (written here) precedes it — the caller resets its DC
    predictors — and its (component, zigzag block) data units."""
    mcu_i = 0
    for my in range(fr.mcuy):
        for mx in range(fr.mcux):
            restart = bool(restart_interval) and mcu_i > 0 \
                and mcu_i % restart_interval == 0
            if restart:
                bw.restart(mcu_i // restart_interval - 1)
            mcu_i += 1
            yield restart, [
                (ci, fr.coefs[ci][my * sv + vi, mx * sh + hi])
                for ci, (sh, sv) in enumerate(fr.samp)
                for vi in range(sv) for hi in range(sh)]


def _write_dc(bw: _BitWriter, codes: dict, diff: int) -> None:
    size, amp = _magnitude(diff)
    bw.write(*codes[size])
    if size:
        bw.write(amp, size)


def _write_runs(bw: _BitWriter, codes: dict, vals: list) -> bool:
    """Run/size symbols (ZRLs included) for ``vals`` up to its last
    nonzero. True when zeros trail it: the caller codes an EOB."""
    last = len(vals) - 1
    while last >= 0 and not vals[last]:
        last -= 1
    run = 0
    for v in vals[:last + 1]:
        if v == 0:
            run += 1
            continue
        while run > 15:
            bw.write(*codes[0xF0])  # ZRL
            run -= 16
        size, amp = _magnitude(v)
        bw.write(*codes[(run << 4) | size])
        bw.write(amp, size)
        run = 0
    return last < len(vals) - 1


def _write_eobrun(bw: _BitWriter, codes: dict, eobrun: int) -> None:
    """EOBn symbol plus its extra bits for a run of ``eobrun`` blocks."""
    r = eobrun.bit_length() - 1
    bw.write(*codes[r << 4])
    if r:
        bw.write(eobrun - (1 << r), r)


def jpeg_encode(pixels: np.ndarray, quality: int = 75,
                subsample: str = "444",
                restart_interval: int = 0) -> bytes:
    """Encode an (H, W) or (H, W, 3) uint8 array as baseline JFIF
    (Annex K tables scaled by ``quality``; ``subsample`` = "444" or
    "420" — 4:2:0 box-averages chroma 2x2 and interleaves 4 Y + Cb +
    Cr blocks per 16x16 MCU, the common web-JPEG layout)."""
    fr = _encode_frame(pixels, quality, subsample)
    dc_codes = [_build_huffman_codes(*_DC_LUM), _build_huffman_codes(*_DC_CHROM)]
    ac_codes = [_build_huffman_codes(*_AC_LUM), _build_huffman_codes(*_AC_CHROM)]

    bw = _BitWriter()
    dc_prev = [0] * fr.c
    for restart, units in _mcus(bw, fr, restart_interval):
        if restart:
            dc_prev = [0] * fr.c
        for ci, zz in units:
            t = fr.tsel[ci]
            _write_dc(bw, dc_codes[t], int(zz[0]) - dc_prev[ci])
            dc_prev[ci] = int(zz[0])
            if _write_runs(bw, ac_codes[t], zz[1:].tolist()):
                bw.write(*ac_codes[t][0x00])  # EOB
    bw.flush()

    head = _head(fr, 0xFFC0, restart_interval,
                 ((0, 0, _DC_LUM), (1, 0, _AC_LUM),
                  (0, 1, _DC_CHROM), (1, 1, _AC_CHROM)))
    return b"".join(head + [_sos(fr, range(fr.c), 0, 63), bytes(bw.buf),
                            b"\xff\xd9"])  # EOI


# ---------------------------------------------------------------- decode

_SOF_BASELINE = {0xC0, 0xC1}
_SOF_UNSUPPORTED = {0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                    0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def jpeg_header(data: bytes) -> tuple[int, int, int]:
    """(width, height, channels) from the SOF marker without decoding."""
    if not data or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = data[pos + 1]
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            pos += 2
            continue
        (length,) = struct.unpack(">H", data[pos + 2:pos + 4])
        if marker in _SOF_BASELINE or marker in _SOF_UNSUPPORTED:
            _, h, w, nc = struct.unpack(">BHHB", data[pos + 4:pos + 10])
            return w, h, nc
        pos += 2 + length
    raise ValueError("no SOF marker found")


class _BitReader:
    """MSB-first bit reader over the entropy-coded segment with 0xFF00
    unstuffing; stops at any real marker (caller handles RSTn)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker = None  # set when a non-stuffing marker is hit

    def _fill(self) -> bool:
        d, n = self.data, len(self.data)
        if self.pos >= n:
            return False
        b = d[self.pos]
        if b == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < n else 0xD9
            if nxt == 0x00:
                self.pos += 2
            else:
                self.marker = nxt
                return False
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8
        return True

    def read_bit(self) -> int:
        if self.nbits == 0 and not self._fill():
            return 0  # past-EOI padding, per spec tolerant decoders
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def receive(self, length: int) -> int:
        v = 0
        for _ in range(length):
            v = (v << 1) | self.read_bit()
        return v

    def align(self) -> None:
        self.acc = 0
        self.nbits = 0

    def skip_rst(self) -> None:
        """Consume an RSTn marker at the current (aligned) position."""
        d = self.data
        while self.pos + 1 < len(d) and d[self.pos] == 0xFF \
                and 0xD0 <= d[self.pos + 1] <= 0xD7:
            self.pos += 2
            self.marker = None


def _decode_huffman(br: _BitReader, lut: dict) -> int:
    code, length = 0, 0
    while length < 16:
        code = (code << 1) | br.read_bit()
        length += 1
        sym = lut.get((length, code))
        if sym is not None:
            return sym
    raise ValueError("bad Huffman code")


def _extend(v: int, size: int) -> int:
    """T.81 F.2.2.1 EXTEND: map magnitude bits to signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _refine_nonzero(br: _BitReader, coef, k: int, se: int, p1: int,
                    m1: int) -> None:
    """Correction-bit pass (T.81 G.1.2.3): one bit per already-nonzero
    coefficient in k..se; a 1-bit nudges the magnitude by 1 at the
    current approximation level (skipped if this pass already set
    that bit)."""
    while k <= se:
        c = coef[k]
        if c:
            if br.read_bit() and (c & p1) == 0:
                coef[k] = c + (p1 if c > 0 else m1)
        k += 1


def _decode_scan(data: bytes, pos: int, comps: list, sel: list,
                 ss: int, se: int, ah: int, al: int,
                 huff_dc: dict, huff_ac: dict,
                 restart_interval: int, mcux: int, mcuy: int,
                 progressive: bool) -> int:
    """Decode one entropy-coded scan into the components' ZIGZAG-order
    coefficient planes; returns the stream position after the scan.
    Handles all four progressive scan kinds (first/refinement ×
    DC/AC) plus baseline sequential as the ss=0..se=63, ah=al=0
    degenerate case, with restart intervals in MCU units
    (interleaved) or data units (single-component scans)."""
    br = _BitReader(data, pos)
    eobrun = 0
    p1, m1 = 1 << al, -1 << al
    for c in sel:
        c["pred"] = 0

    def decode_block(c, coef) -> None:
        nonlocal eobrun
        if not progressive:
            size = _decode_huffman(br, huff_dc[c["td"]])
            c["pred"] += _extend(br.receive(size), size)
            coef[0] = c["pred"]
            k = 1
            while k <= 63:
                rs = _decode_huffman(br, huff_ac[c["ta"]])
                r, s = rs >> 4, rs & 0xF
                if s == 0:
                    if r == 15:  # ZRL
                        k += 16
                        continue
                    break  # EOB
                k += r
                if k > 63:
                    raise ValueError("AC index overflow")
                coef[k] = _extend(br.receive(s), s)
                k += 1
        elif ss == 0:
            if ah == 0:  # first DC scan
                size = _decode_huffman(br, huff_dc[c["td"]])
                c["pred"] += _extend(br.receive(size), size)
                coef[0] = c["pred"] << al
            else:  # DC refinement: one raw bit per block
                if br.read_bit():
                    coef[0] |= p1
        elif ah == 0:  # first AC scan (with EOB runs)
            if eobrun > 0:
                eobrun -= 1
                return
            k = ss
            while k <= se:
                rs = _decode_huffman(br, huff_ac[c["ta"]])
                r, s = rs >> 4, rs & 0xF
                if s == 0:
                    if r < 15:
                        eobrun = (1 << r) - 1
                        if r:
                            eobrun += br.receive(r)
                        break
                    k += 16  # ZRL
                else:
                    k += r
                    if k > se:
                        raise ValueError("AC index overflow")
                    coef[k] = _extend(br.receive(s), s) << al
                    k += 1
        else:  # AC refinement (T.81 G.1.2.3)
            if eobrun > 0:
                eobrun -= 1
                _refine_nonzero(br, coef, ss, se, p1, m1)
                return
            k = ss
            while k <= se:
                rs = _decode_huffman(br, huff_ac[c["ta"]])
                r, s = rs >> 4, rs & 0xF
                val = 0
                if s:
                    val = p1 if br.read_bit() else m1
                elif r < 15:
                    eobrun = (1 << r)
                    if r:
                        eobrun += br.receive(r)
                    break
                # advance over r zero-HISTORY positions, emitting a
                # correction bit at each nonzero-history one passed
                while k <= se:
                    c0 = coef[k]
                    if c0:
                        if br.read_bit() and (c0 & p1) == 0:
                            coef[k] = c0 + (p1 if c0 > 0 else m1)
                    else:
                        if r == 0:
                            break
                        r -= 1
                    k += 1
                if val and k <= se:
                    coef[k] = val
                k += 1
            if eobrun > 0:
                _refine_nonzero(br, coef, k, se, p1, m1)
                eobrun -= 1

    def units():
        if len(sel) == 1:  # non-interleaved: the comp's own raster
            c = sel[0]
            for by in range(c["bh"]):
                for bx in range(c["bw"]):
                    yield ((c, by, bx),)
        else:
            for my in range(mcuy):
                for mx in range(mcux):
                    yield tuple(
                        (c, my * c["v"] + vi, mx * c["h"] + hi)
                        for c in sel
                        for vi in range(c["v"])
                        for hi in range(c["h"]))

    count = 0
    for unit in units():
        if restart_interval and count and count % restart_interval == 0:
            br.align()
            br.skip_rst()
            eobrun = 0
            for c in sel:
                c["pred"] = 0
        for c, by, bx in unit:
            decode_block(c, c["coefs"][by, bx])
        count += 1
    # re-align and swallow a trailing RST so pos lands on the next
    # real marker
    br.align()
    br.skip_rst()
    return br.pos


def jpeg_decode(data: bytes) -> np.ndarray:
    """Decode baseline-sequential (SOF0/1) or PROGRESSIVE (SOF2, since
    round 6) JPEG to (H, W, C) uint8 (C=1 or 3; 3 = RGB after JFIF
    YCbCr conversion). Both paths share one engine: every scan
    accumulates into per-component zigzag-order coefficient planes
    (progressive spectral-selection bands and successive-approximation
    bits land in the same planes across scans), then a single
    vectorized dequantize + IDCT pass reconstructs the pixels."""
    if not data or data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qtabs: dict[int, np.ndarray] = {}
    huff_dc: dict[int, dict] = {}
    huff_ac: dict[int, dict] = {}
    restart_interval = 0
    frame = None
    progressive = False
    mcux = mcuy = 0
    pos, n = 2, len(data)
    saw_scan = False
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = data[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD8:
            pos += 2
            continue
        (length,) = struct.unpack(">H", data[pos + 2:pos + 4])
        body = data[pos + 4:pos + 2 + length]
        if marker == 0xDB:  # DQT
            off = 0
            while off < len(body):
                pq, tq = body[off] >> 4, body[off] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                tbl = np.frombuffer(body, np.uint8, 64, off + 1).astype(np.int32)
                dq = np.zeros(64, dtype=np.int32)
                dq[_ZIGZAG] = tbl  # de-zigzag to row-major
                qtabs[tq] = dq.reshape(8, 8)
                off += 65
        elif marker in _SOF_UNSUPPORTED and marker != 0xC2:
            raise ValueError(f"unsupported JPEG (SOF{marker - 0xC0})")
        elif marker in _SOF_BASELINE or marker == 0xC2:
            progressive = marker == 0xC2
            prec, h, w, nc = struct.unpack(">BHHB", body[:6])
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            comps = []
            for i in range(nc):
                cid, hv, tq = struct.unpack("BBB", body[6 + 3 * i:9 + 3 * i])
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            hmax = max(c["h"] for c in comps)
            vmax = max(c["v"] for c in comps)
            if hmax not in (1, 2) or vmax not in (1, 2):
                raise ValueError("sampling factors beyond 2 unsupported")
            mcux = (w + 8 * hmax - 1) // (8 * hmax)
            mcuy = (h + 8 * vmax - 1) // (8 * vmax)
            for c in comps:
                cw = (w * c["h"] + hmax - 1) // hmax
                ch = (h * c["v"] + vmax - 1) // vmax
                c["bw"], c["bh"] = (cw + 7) // 8, (ch + 7) // 8
                c["coefs"] = np.zeros(
                    (mcuy * c["v"], mcux * c["h"], 64), dtype=np.int32)
            frame = {"h": h, "w": w, "comps": comps,
                     "hmax": hmax, "vmax": vmax}
        elif marker == 0xC4:  # DHT
            off = 0
            while off < len(body):
                tc, th = body[off] >> 4, body[off] & 0xF
                bits = list(body[off + 1:off + 17])
                nv = sum(bits)
                values = list(body[off + 17:off + 17 + nv])
                lut = _build_huffman_lut(bits, values)
                (huff_ac if tc else huff_dc)[th] = lut
                off += 17 + nv
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", body[:2])
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = body[0]
            by_id = {c["id"]: c for c in frame["comps"]}
            sel = []
            for i in range(ns):
                cs, tdta = body[1 + 2 * i], body[2 + 2 * i]
                c = by_id.get(cs)
                if c is None:
                    raise ValueError("scan references unknown component")
                c["td"], c["ta"] = tdta >> 4, tdta & 0xF
                sel.append(c)
            ss, se = body[1 + 2 * ns], body[2 + 2 * ns]
            ahal = body[3 + 2 * ns]
            ah, al = ahal >> 4, ahal & 0xF
            if not progressive:
                ss, se, ah, al = 0, 63, 0, 0
            pos = _decode_scan(data, pos + 2 + length, frame["comps"],
                               sel, ss, se, ah, al, huff_dc, huff_ac,
                               restart_interval, mcux, mcuy,
                               progressive)
            saw_scan = True
            continue
        pos += 2 + length
    if frame is None or not saw_scan:
        raise ValueError("incomplete JPEG (missing SOF/SOS)")

    comps = frame["comps"]
    h, w = frame["h"], frame["w"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    planes = []
    for c in comps:
        zz = c["coefs"]
        nat = np.zeros_like(zz)
        nat[..., _ZIGZAG] = zz  # zigzag -> natural, all blocks at once
        bh, bw = nat.shape[0], nat.shape[1]
        blocks = nat.reshape(bh, bw, 8, 8) * qtabs[c["tq"]]
        px = np.einsum("ij,abjk,kl->abil", _T.T, blocks, _T) + 128.0
        p = px.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        if c["h"] < hmax:
            p = np.repeat(p, hmax // c["h"], axis=1)
        if c["v"] < vmax:
            p = np.repeat(p, vmax // c["v"], axis=0)
        planes.append(p[:h, :w])

    if len(planes) == 1:
        out = planes[0][:, :, None]
    elif len(planes) == 3:
        y, cb, cr = planes
        r = y + 1.402 * (cr - 128)
        g = y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)
        b = y + 1.772 * (cb - 128)
        out = np.stack([r, g, b], axis=2)
    else:
        raise ValueError(f"unsupported component count {len(planes)}")
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


# custom AC Huffman table for progressive scans: the Annex K AC
# tables lack the EOBn symbols (r<<4, r>0) progressive EOB runs
# need, so fixtures use a flat canonical table covering all 256
# symbols (255 at 9 bits + 1 at 10 — valid Kraft, no all-ones code).
_AC_PROG_BITS = [0] * 8 + [255, 1] + [0] * 6
_AC_PROG_VALUES = list(range(256))


def jpeg_encode_progressive(pixels: np.ndarray, quality: int = 75,
                            subsample: str = "444",
                            restart_interval: int = 0) -> bytes:
    """Progressive (SOF2) encoder — greyscale, 4:4:4, or 4:2:0
    colour (``subsample="420"``: box-averaged chroma, 4 Y + Cb + Cr
    blocks per 16x16 MCU in the DC scans, chroma AC scans walking
    the component's OWN non-interleaved block raster — the common
    web-JPEG progressive layout). Used for fixtures and roundtrip
    tests. Scan script exercises every progressive scan kind:
    interleaved first DC at Al=1, first AC per component in two
    spectral bands at Al=1 (EOB runs + ZRL), DC refinement (raw
    bits), then AC refinement of both bands at Al=0 (correction
    bits + refined EOB runs). ``restart_interval`` plants RSTn
    markers every N MCUs (DC scans) / N data units (AC scans),
    resetting DC predictors and EOB runs. Refinement correction
    bits are emitted per ZRL segment — exactly the bits the
    decoder's 16-zero-history advance consumes."""
    fr = _encode_frame(pixels, quality, subsample)
    c = fr.c
    dc_codes = [_build_huffman_codes(*_DC_LUM),
                _build_huffman_codes(*_DC_CHROM)]
    acp = _build_huffman_codes(_AC_PROG_BITS, _AC_PROG_VALUES)

    def scan_bytes(fn) -> bytes:
        bwr = _BitWriter()
        fn(bwr)
        bwr.flush()
        return bytes(bwr.buf)

    def dc_first(bwr):  # Ss=0 Se=0 Ah=0 Al=1 (arithmetic shift)
        prev = [0] * c
        for restart, units in _mcus(bwr, fr, restart_interval):
            if restart:
                prev = [0] * c
            for ci, zz in units:
                v = int(zz[0]) >> 1
                _write_dc(bwr, dc_codes[fr.tsel[ci]], v - prev[ci])
                prev[ci] = v

    def dc_refine(bwr):  # Ah=1 Al=0: one raw bit per block
        for _, units in _mcus(bwr, fr, restart_interval):
            for _, zz in units:
                bwr.write(int(zz[0]) & 1, 1)

    def ac_blocks(ci):
        """Non-interleaved data-unit raster with restart markers —
        the traversal the decoder uses for single-component scans."""
        bh_i, bw_i = fr.nonint[ci]
        return [(by, bx) for by in range(bh_i) for bx in range(bw_i)]

    def ac_first(ci, ss, se, al):
        def fn(bwr):
            eobrun = 0

            def flush_eob():
                nonlocal eobrun
                if eobrun:
                    _write_eobrun(bwr, acp, eobrun)
                    eobrun = 0

            for bi, (by, bx) in enumerate(ac_blocks(ci)):
                if restart_interval and bi \
                        and bi % restart_interval == 0:
                    flush_eob()
                    bwr.restart(bi // restart_interval - 1)
                band = fr.coefs[ci][by, bx, ss:se + 1]
                vals = [(abs(int(v)) >> al) * (1 if v >= 0 else -1)
                        for v in band]
                if not any(vals):
                    eobrun += 1
                    if eobrun == 0x7FFF:
                        flush_eob()
                    continue
                flush_eob()
                if _write_runs(bwr, acp, vals):
                    eobrun = 1
            flush_eob()
        return fn

    def ac_refine(ci, ss, se, al):
        def fn(bwr):
            eobrun = 0
            eob_bits: list[int] = []

            def flush_eob():
                nonlocal eobrun
                if eobrun:
                    _write_eobrun(bwr, acp, eobrun)
                    for b in eob_bits:
                        bwr.write(b, 1)
                    eob_bits.clear()
                    eobrun = 0

            for bi, (by, bx) in enumerate(ac_blocks(ci)):
                if restart_interval and bi \
                        and bi % restart_interval == 0:
                    flush_eob()
                    bwr.restart(bi // restart_interval - 1)
                band = [int(v) for v in fr.coefs[ci][by, bx, ss:se + 1]]
                absv = [abs(v) >> al for v in band]
                newly = [i for i, a in enumerate(absv) if a == 1]
                if not newly:
                    eobrun += 1
                    eob_bits.extend(a & 1 for a in absv if a > 1)
                    if eobrun == 0x7FFF:
                        flush_eob()
                    continue
                flush_eob()
                # region: positions since the last emitted symbol —
                # 'z' (zero history) or a history correction bit
                region: list = []
                for i in range(newly[-1] + 1):
                    a = absv[i]
                    if a == 0:
                        region.append("z")
                    elif a > 1:
                        region.append(a & 1)
                    else:  # newly nonzero: emit ZRLs segment-wise
                        zcount = sum(1 for e in region if e == "z")
                        while zcount > 15:
                            bwr.write(*acp[0xF0])  # ZRL
                            taken = 0
                            while taken < 16:
                                e = region.pop(0)
                                if e == "z":
                                    taken += 1
                                else:
                                    bwr.write(e, 1)
                            zcount -= 16
                        bwr.write(*acp[(zcount << 4) | 1])
                        bwr.write(1 if band[i] > 0 else 0, 1)
                        for e in region:
                            if e != "z":
                                bwr.write(e, 1)
                        region = []
                if newly[-1] < len(absv) - 1:
                    eobrun += 1
                    eob_bits.extend(
                        absv[i] & 1
                        for i in range(newly[-1] + 1, len(absv))
                        if absv[i] > 1)
                    if eobrun == 0x7FFF:
                        flush_eob()
            flush_eob()
        return fn

    head = _head(fr, 0xFFC2, restart_interval,
                 ((0, 0, _DC_LUM), (0, 1, _DC_CHROM),
                  (1, 0, (_AC_PROG_BITS, _AC_PROG_VALUES))))
    bands = ((1, 5), (6, 63))
    scans = [_sos(fr, range(c), 0, 0, 0, 1, ac_table=0),
             scan_bytes(dc_first)]
    for ci in range(c):
        for ss, se in bands:
            scans += [_sos(fr, [ci], ss, se, 0, 1, ac_table=0),
                      scan_bytes(ac_first(ci, ss, se, 1))]
    scans += [_sos(fr, range(c), 0, 0, 1, 0, ac_table=0),
              scan_bytes(dc_refine)]
    for ci in range(c):
        for ss, se in bands:
            scans += [_sos(fr, [ci], ss, se, 1, 0, ac_table=0),
                      scan_bytes(ac_refine(ci, ss, se, 0))]
    return b"".join(head + scans + [b"\xff\xd9"])
