"""Baseline JFIF (JPEG) codec — from the public ITU-T T.81 spec, pure
numpy + Python, no image libraries.

The reference decodes real image formats through the Rust `image` crate
(/root/reference/src/raster/image.rs:44-205); this container has no JPEG
library at all, so the codec is implemented from the spec:

- **Encoder** (`encode_jpeg`): baseline sequential DCT, 4:4:4 sampling
  (one 8x8 block per component per MCU), JFIF APP0, Annex K quantization
  tables scaled by a quality factor (libjpeg's public scaling convention),
  Annex K "typical" Huffman tables, byte stuffing, edge-replicated padding
  to multiples of 8. Grayscale (h, w) input emits a 1-component scan.
- **Decoder** (`decode_jpeg`): baseline sequential (SOF0/1) AND
  progressive (SOF2, T.81 §G spectral selection + successive
  approximation — DC/AC first and refinement passes, EOBRUN, interleaved
  DC scans, per-component AC scans); any sampling factors h, v in {1, 2}
  (covers 4:4:4 / 4:2:2 / 4:2:0), 1- or 3-component scans, restart
  intervals (DRI/RSTn), multiple DQT/DHT segments, 8- and 16-bit
  quantization tables. Entropy decoding uses a 2^16 lookup table per
  Huffman table (one list index per symbol — the per-symbol loop is
  Python, everything numeric after it is batched numpy: dequantization,
  de-zigzag, IDCT as two 8x8 matmuls over all blocks at once).
- **Progressive encoder** (`encode_jpeg_progressive`): the §G scan
  script with successive approximation, emitting the same quantized
  coefficients as the baseline encoder — decode equality with the
  baseline stream is the pytest oracle for the progressive decoder.

Scale note: per-image decode cost is linear and partition-parallel; at
cluster scale the Arrow-batched UDFs in operators/ ship (bytes, fmt) and
decode inside the task, so this module's speed bounds per-core throughput
only — the plan shape (no shuffle, no driver collect) is unchanged.

PSNR: quality 90 tables keep round-trip PSNR well above the 40 dB gate of
BASELINE.json for natural and synthetic-gradient content (pytest pins it).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# Constants — ITU-T T.81 Annex K (public spec).
# ---------------------------------------------------------------------------

# K.1 luminance / K.2 chrominance quantization tables (natural row-major order)
_QT_LUMA = np.array(
    [
        16, 11, 10, 16, 24, 40, 51, 61,
        12, 12, 14, 19, 26, 58, 60, 55,
        14, 13, 16, 24, 40, 57, 69, 56,
        14, 17, 22, 29, 51, 87, 80, 62,
        18, 22, 37, 56, 68, 109, 103, 77,
        24, 35, 55, 64, 81, 104, 113, 92,
        49, 64, 78, 87, 103, 121, 120, 101,
        72, 92, 95, 98, 112, 100, 103, 99,
    ],
    dtype=np.int32,
)
_QT_CHROMA = np.array(
    [
        17, 18, 24, 47, 99, 99, 99, 99,
        18, 21, 26, 66, 99, 99, 99, 99,
        24, 26, 56, 99, 99, 99, 99, 99,
        47, 66, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
        99, 99, 99, 99, 99, 99, 99, 99,
    ],
    dtype=np.int32,
)

# zigzag scan order: _ZIGZAG[k] = natural index of the k-th zigzag coefficient
_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)
_UNZIGZAG = np.argsort(_ZIGZAG)  # natural index -> zigzag position

# Annex K "typical" Huffman tables: (BITS[1..16], HUFFVAL)
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
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
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# 8x8 DCT-II basis matrix: F = _C @ X @ _C.T ; inverse X = _C.T @ F @ _C
_k = np.arange(8)
_C = np.cos((2 * _k[None, :] + 1) * _k[:, None] * np.pi / 16) * 0.5
_C[0, :] *= 1 / np.sqrt(2)


def _idct(blocks: np.ndarray) -> np.ndarray:
    """Dequantized coefficient blocks (..., 8, 8) -> level-shifted samples.
    Matmul broadcasts over the leading axes. A 3-operand einsum runs as one
    unoptimized 5-index loop: 1.96 ms for the 192 blocks of a 64x64 RGB
    tile against 0.08 ms here, with the same decoded bytes (tests keep the
    einsum form as the reference)."""
    return _C.T @ blocks @ _C + 128.0


class JpegError(ValueError):
    """Typed decode failure (bad marker / unsupported mode / corrupt scan)."""


def _scaled_qt(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg's public quality->scale convention (quality in [1, 100])."""
    quality = max(1, min(100, quality))
    s = 5000 // quality if quality < 50 else 200 - 2 * quality
    return np.clip((base * s + 50) // 100, 1, 255).astype(np.int32)


# ---------------------------------------------------------------------------
# Huffman code construction (T.81 Annex C) + encode/decode tables.
# ---------------------------------------------------------------------------


def _build_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length), canonical order per Annex C."""
    codes: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            codes[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return codes


_LUT_CACHE: dict[tuple, list[int]] = {}


def _build_lut(bits: list[int], vals: list[int]) -> list[int]:
    """16-bit-peek decode LUT: value v (the next 16 bits of the stream)
    -> packed (symbol << 5) | code_length (length needs 5 bits; 0 = invalid
    code). ONE list index per symbol in the hot loop — lists, not numpy
    (numpy scalar boxing is ~3x slower here). Memoized per (bits, vals):
    the 64x64-tile decode path would otherwise pay the 2^16 table build on
    every call (our encoder always emits the Annex K tables)."""
    key = (tuple(bits), tuple(vals))
    cached = _LUT_CACHE.get(key)
    if cached is not None:
        return cached
    packed = np.zeros(1 << 16, dtype=np.int32)
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            lo = code << (16 - length)
            hi = lo + (1 << (16 - length))
            packed[lo:hi] = (vals[k] << 5) | length
            code += 1
            k += 1
        code <<= 1
    out = packed.tolist()
    if len(_LUT_CACHE) < 64:  # bounded: external files with custom tables
        _LUT_CACHE[key] = out
    return out


_ENC_DC_L = _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)
_ENC_DC_C = _build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
_ENC_AC_L = _build_codes(_AC_LUMA_BITS, _AC_LUMA_VALS)
_ENC_AC_C = _build_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)


def _code_arrays(codes: dict[int, tuple[int, int]], n: int) -> tuple[np.ndarray, np.ndarray]:
    """(code, length) dictionaries as symbol-indexed numpy arrays for the
    vectorized encoder."""
    c = np.zeros(n, dtype=np.uint32)
    ln = np.zeros(n, dtype=np.uint32)
    for sym, (code, length) in codes.items():
        c[sym] = code
        ln[sym] = length
    return c, ln


_DCL_C, _DCL_L = _code_arrays(_ENC_DC_L, 12)
_DCC_C, _DCC_L = _code_arrays(_ENC_DC_C, 12)
_ACL_C, _ACL_L = _code_arrays(_ENC_AC_L, 256)
_ACC_C, _ACC_L = _code_arrays(_ENC_AC_C, 256)


# ---------------------------------------------------------------------------
# Color transforms (JFIF / BT.601 full range).
# ---------------------------------------------------------------------------


def _rgb_to_ycbcr(arr: np.ndarray) -> np.ndarray:
    a = arr.astype(np.float64)
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = 128.0 - 0.168735892 * r - 0.331264108 * g + 0.5 * b
    cr = 128.0 + 0.5 * r - 0.418687589 * g - 0.081312411 * b
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136286 * cb - 0.714136286 * cr
    b = y + 1.772 * cb
    return np.clip(np.stack([r, g, b], axis=-1).round(), 0, 255).astype(np.uint8)


def _to_blocks(plane: np.ndarray) -> np.ndarray:
    """(H, W) with H, W multiples of 8 -> (H//8 * W//8, 8, 8) row-major."""
    h, w = plane.shape
    return plane.reshape(h // 8, 8, w // 8, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8)


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


class _JBitWriter:
    """MSB-first bit writer with JPEG 0xFF byte stuffing.

    Together with _encode_block this is the straightforward per-block
    reference implementation of the entropy coder; encode_jpeg uses the
    vectorized token-stream path (_component_tokens + _pack_bits), which a
    test pins byte-identical to this one."""

    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, width: int) -> None:
        if width == 0:
            return
        self.acc = (self.acc << width) | code
        self.nbits += width
        while self.nbits >= 8:
            self.nbits -= 8
            b = (self.acc >> self.nbits) & 0xFF
            self.buf.append(b)
            if b == 0xFF:
                self.buf.append(0x00)
        self.acc &= (1 << self.nbits) - 1

    def flush(self) -> bytes:
        if self.nbits:
            # pad with 1-bits per T.81 F.1.2.3
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)
        return bytes(self.buf)


def _bit_size(v: int) -> int:
    return int(v).bit_length()


def _encode_block(
    out: _JBitWriter,
    zz: np.ndarray,
    pred: int,
    dc_codes: dict[int, tuple[int, int]],
    ac_codes: dict[int, tuple[int, int]],
) -> int:
    """Huffman-encode one zigzagged quantized block; returns the new DC pred."""
    dc = int(zz[0])
    diff = dc - pred
    size = _bit_size(abs(diff))
    code, ln = dc_codes[size]
    out.write(code, ln)
    if size:
        out.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
    # AC: run-length encode the nonzero positions (vector-precomputed)
    nz = np.nonzero(zz[1:])[0] + 1
    run = 0
    prev = 0
    for k in nz:
        run = int(k) - prev - 1
        prev = int(k)
        while run > 15:
            code, ln = ac_codes[0xF0]  # ZRL
            out.write(code, ln)
            run -= 16
        v = int(zz[k])
        size = _bit_size(abs(v))
        code, ln = ac_codes[(run << 4) | size]
        out.write(code, ln)
        out.write(v if v >= 0 else v + (1 << size) - 1, size)
    if prev != 63:
        code, ln = ac_codes[0x00]  # EOB
        out.write(code, ln)
    return dc


def _bitlen(v: np.ndarray) -> np.ndarray:
    """Per-element bit length of |v| (0 -> 0). |v| < 2^16 is exact in f64,
    so the frexp exponent IS the bit length."""
    return np.frexp(np.abs(v).astype(np.float64))[1].astype(np.int64)


def _component_tokens(
    zz: np.ndarray, ci: int, ncomp: int, dc_c, dc_l, ac_c, ac_l
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized token stream for one component's quantized zigzag blocks
    (nb, 64): returns (sort_key, value, nbits) arrays. A token packs
    huffman code + magnitude bits into one integer:
    value = (code << size) | mag_bits, nbits = code_len + size.

    sort_key orders tokens globally: ((block*ncomp + ci)*65 + pos)*20 + sub,
    pos = zigzag position (DC 0, AC k, EOB 64), sub places ZRL runs before
    their AC token."""
    nb = zz.shape[0]
    zz = zz.astype(np.int64)

    def key(block, pos, sub):
        return ((block * ncomp + ci) * 65 + pos) * 20 + sub

    # DC: differential against the previous block of the SAME component
    dc = zz[:, 0]
    diff = np.diff(dc, prepend=0)
    size = _bitlen(diff)
    mag = np.where(diff >= 0, diff, diff + (1 << size) - 1)
    dc_val = (dc_c[size].astype(np.int64) << size) | mag
    dc_bits = dc_l[size].astype(np.int64) + size
    dc_key = key(np.arange(nb, dtype=np.int64), 0, 19)

    # AC: nonzero coefficients with zero-run prefixes
    rows, cols = np.nonzero(zz[:, 1:])
    cols = cols + 1
    vals = zz[rows, cols]
    prev = np.empty_like(cols)
    first = np.empty(len(rows), dtype=bool)
    if len(rows):
        prev[1:] = cols[:-1]
        prev[0] = 0
        first[1:] = rows[1:] != rows[:-1]
        first[0] = True
    run = np.where(first, cols - 1, cols - prev - 1)
    nzrl = run >> 4
    size = _bitlen(vals)
    sym = ((run & 15) << 4) | size
    mag = np.where(vals >= 0, vals, vals + (1 << size) - 1)
    ac_val = (ac_c[sym].astype(np.int64) << size) | mag
    ac_bits = ac_l[sym].astype(np.int64) + size
    ac_key = key(rows.astype(np.int64), cols, 19)

    # ZRL tokens (run >= 16): nzrl[i] copies before AC token i
    zi = np.repeat(np.arange(len(rows)), nzrl)
    sub = np.arange(len(zi)) - np.repeat(np.cumsum(nzrl) - nzrl, nzrl)
    zrl_val = np.full(len(zi), int(ac_c[0xF0]), dtype=np.int64)
    zrl_bits = np.full(len(zi), int(ac_l[0xF0]), dtype=np.int64)
    zrl_key = key(rows[zi].astype(np.int64), cols[zi], sub)

    # EOB for every block whose last nonzero zigzag position != 63
    last = np.zeros(nb, dtype=np.int64)
    np.maximum.at(last, rows, cols)
    eb = np.nonzero(last != 63)[0]
    eob_val = np.full(len(eb), int(ac_c[0x00]), dtype=np.int64)
    eob_bits = np.full(len(eb), int(ac_l[0x00]), dtype=np.int64)
    eob_key = key(eb.astype(np.int64), 64, 19)

    return (
        np.concatenate([dc_key, ac_key, zrl_key, eob_key]),
        np.concatenate([dc_val, ac_val, zrl_val, eob_val]),
        np.concatenate([dc_bits, ac_bits, zrl_bits, eob_bits]),
    )


def _pack_bits(vals: np.ndarray, bits: np.ndarray) -> bytes:
    """MSB-first concatenation of variable-width bitfields + JPEG 0xFF
    stuffing, fully vectorized: exclusive prefix-sum of widths gives each
    token's bit offset; each token is shifted into a 64-bit window aligned
    to its start byte and scattered with np.add.at (bit regions are
    disjoint, so adds never carry)."""
    offs = np.concatenate([[0], np.cumsum(bits)])
    total = int(offs[-1])
    pad = (-total) % 8
    if pad:  # T.81 F.1.2.3: pad with 1-bits
        vals = np.concatenate([vals, [(1 << pad) - 1]])
        bits = np.concatenate([bits, [pad]])
        offs = np.concatenate([offs, [total + pad]])
        total += pad
    byte_idx = (offs[:-1] >> 3).astype(np.int64)
    bit_in = (offs[:-1] & 7).astype(np.int64)
    shifted = vals.astype(np.uint64) << (64 - bit_in - bits).astype(np.uint64)
    n_buf = total // 8 + 8
    buf = np.zeros(n_buf, dtype=np.float64)
    for j in range(8):
        b = ((shifted >> np.uint64(56 - 8 * j)) & np.uint64(0xFF)).astype(np.float64)
        # bincount over sorted indices is ~20x faster than np.ufunc.at;
        # byte values are <=255 and bit-disjoint, exact in f64
        buf += np.bincount(byte_idx + j, weights=b, minlength=n_buf)
    out = buf[: total // 8].astype(np.uint8)
    # byte stuffing: 0x00 after every 0xFF
    ff = np.nonzero(out == 0xFF)[0]
    if len(ff):
        out = np.insert(out, ff + 1, 0)
    return out.tobytes()


def _dht_segment(tclass: int, tid: int, bits: list[int], vals: list[int]) -> bytes:
    payload = bytes([(tclass << 4) | tid]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(payload) + 2) + payload


def encode_jpeg(arr: np.ndarray, quality: int = 90) -> bytes:
    """Baseline JFIF encode of (h, w, 3) RGB uint8 (or (h, w) gray), 4:4:4."""
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise JpegError("empty image")
    qt_l = _scaled_qt(_QT_LUMA, quality)
    qt_c = _scaled_qt(_QT_CHROMA, quality)
    # pad to multiples of 8 by edge replication (minimizes ringing)
    h8 = (h + 7) // 8 * 8
    w8 = (w + 7) // 8 * 8
    if gray:
        comps = [arr.astype(np.float64)]
    else:
        ycc = _rgb_to_ycbcr(arr)
        comps = [ycc[..., i] for i in range(3)]
    quantized: list[np.ndarray] = []
    for ci, plane in enumerate(comps):
        p = np.pad(plane, ((0, h8 - h), (0, w8 - w)), mode="edge") - 128.0
        blocks = _to_blocks(p)
        # stays on einsum, unlike the decoder's _idct: the matmul form
        # rounds differently often enough to move a quantized coefficient
        # (2 of 1,732 encodes of the perfbench seed 1-3 JPEG tiles at q75 /
        # q98, baseline + progressive, changed bytes), and fixture bytes,
        # phash and the expected_*.parquet oracles all hash encoder output
        coefs = np.einsum("ij,bjk,kl->bil", _C, blocks, _C.T)
        qt = (qt_l if ci == 0 else qt_c).reshape(8, 8).astype(np.float64)
        q = np.round(coefs / qt).astype(np.int32)
        # zigzag once for the whole component
        quantized.append(q.reshape(-1, 64)[:, _ZIGZAG])

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(qt_l[_ZIGZAG].tolist())
    if not gray:
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + bytes(qt_c[_ZIGZAG].tolist())
    nc = 1 if gray else 3
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])  # 4:4:4, qtable id
    out += b"\xff\xc0" + struct.pack(">H", len(sof) + 2) + sof
    out += _dht_segment(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
    out += _dht_segment(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS)
    if not gray:
        out += _dht_segment(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        out += _dht_segment(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS)
    sos = bytes([nc])
    for ci in range(nc):
        sos += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    sos += b"\x00\x3f\x00"
    out += b"\xff\xda" + struct.pack(">H", len(sos) + 2) + sos

    # vectorized entropy coding: per-component token streams, stable-sorted
    # into MCU interleave order (4:4:4: Y[b], Cb[b], Cr[b]), then one
    # prefix-sum bit pack
    keys, vals, bits = [], [], []
    for ci in range(nc):
        dc_c, dc_l = (_DCL_C, _DCL_L) if ci == 0 else (_DCC_C, _DCC_L)
        ac_c, ac_l = (_ACL_C, _ACL_L) if ci == 0 else (_ACC_C, _ACC_L)
        k, v, b = _component_tokens(quantized[ci], ci, nc, dc_c, dc_l, ac_c, ac_l)
        keys.append(k)
        vals.append(v)
        bits.append(b)
    order = np.argsort(np.concatenate(keys), kind="stable")
    out += _pack_bits(np.concatenate(vals)[order], np.concatenate(bits)[order])
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def split_jpeg_tables(stream: bytes) -> tuple[bytes, bytes]:
    """TIFF TechNote 2 split of a full interchange stream: returns
    ``(tables, abbreviated)`` where ``tables`` is an abbreviated
    table-specification stream (SOI + every DQT/DHT segment + EOI — the
    JPEGTables tag 347 payload, shared by all tiles of an IFD) and
    ``abbreviated`` is the per-tile stream with those segments removed
    (SOI + SOF/DRI/SOS + entropy data + EOI). ``merge_jpeg_tables``
    inverts the split. From SOS onward bytes are copied verbatim (entropy
    data carries no table segments)."""
    if len(stream) < 4 or stream[:2] != b"\xff\xd8":
        raise JpegError("not a JPEG (no SOI)")
    tables = bytearray(b"\xff\xd8")
    rest = bytearray(b"\xff\xd8")
    pos = 2
    n = len(stream)
    while pos + 4 <= n:
        if stream[pos] != 0xFF:
            raise JpegError(f"marker expected at {pos}")
        marker = stream[pos + 1]
        if marker == 0xD9:  # EOI with no scan
            break
        if marker == 0xDA:  # SOS: remainder is entropy data + EOI, verbatim
            rest += stream[pos:]
            tables += b"\xff\xd9"
            return bytes(tables), bytes(rest)
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            # TEM / stray RSTn: standalone markers carry NO length word
            # (T.81 B.1.1.3) — reading one as a segment would misparse
            # the rest of the stream (ADVICE r6)
            rest += stream[pos : pos + 2]
            pos += 2
            continue
        (seglen,) = struct.unpack_from(">H", stream, pos + 2)
        seg = stream[pos : pos + 2 + seglen]
        (tables if marker in (0xDB, 0xC4) else rest).extend(seg)
        pos += 2 + seglen
    raise JpegError("no SOS found")


def merge_jpeg_tables(tables: bytes, abbreviated: bytes) -> bytes:
    """Inverse of ``split_jpeg_tables``: prepend the JPEGTables stream
    (minus its EOI) to the abbreviated tile stream (minus its SOI). Safe
    even if the tile stream carries its own tables — later definitions
    override earlier ones in the decoder."""
    if len(tables) < 4 or tables[:2] != b"\xff\xd8" or tables[-2:] != b"\xff\xd9":
        raise JpegError("JPEGTables is not an SOI..EOI stream")
    if len(abbreviated) < 2 or abbreviated[:2] != b"\xff\xd8":
        raise JpegError("tile stream has no SOI")
    return tables[:-2] + abbreviated[2:]


def _destuff(data: bytes, start: int) -> tuple[bytes, int]:
    """Strip 0xFF00 stuffing from the entropy-coded segment starting at
    `start`; stop at the first real marker. Returns (clean bytes, marker
    position). Vectorized with numpy over the whole tail."""
    tail = np.frombuffer(data, dtype=np.uint8, count=len(data) - start, offset=start)
    ff = np.nonzero(tail == 0xFF)[0]
    end = len(tail)
    stuffed = []
    for i in ff:
        if i + 1 >= len(tail):
            end = int(i)
            break
        nxt = tail[i + 1]
        if nxt == 0x00:
            stuffed.append(int(i) + 1)  # drop the stuffed 0x00
        elif 0xD0 <= nxt <= 0xD7:
            stuffed.append(int(i))
            stuffed.append(int(i) + 1)  # drop RSTn (reader resets at bounds)
        else:
            end = int(i)
            break
    keep = np.ones(end, dtype=bool)
    drop = [s for s in stuffed if s < end]
    if drop:
        keep[drop] = False
    return tail[:end][keep].tobytes(), start + end


_FAST_AC_CACHE: dict[int, list] = {}  # id of a _LUT_CACHE table -> its fast table
_NO_FAST_AC: list = [None] * (1 << 16)


def _fast_ac(alut: list[int]) -> list:
    """AC fast path for a _build_lut table: 16-bit peek -> (bits consumed,
    zero run, coefficient value) for every nonzero-coefficient symbol whose
    code AND magnitude bits fit in the peek, else None (EOB, ZRL, longer
    and invalid codes take the general path). One lookup and one tuple
    unpack replace the magnitude extraction and sign extension of ~93% of
    the peeks of the Annex K luma table. Peeks that decode alike share one
    tuple (~0.6 MB per table, ~8 ms to build). Built once per table that
    _LUT_CACHE keeps; a table outside it (one-off custom tables past the
    cache bound) gets the all-general table, as the build would cost more
    than it saves on a small tile. Keyed by table identity, which is
    stable: _LUT_CACHE never drops a table."""
    fast = _FAST_AC_CACHE.get(id(alut))
    if fast is not None:
        return fast
    if not any(t is alut for t in _LUT_CACHE.values()):
        return _NO_FAST_AC
    e = np.asarray(alut, dtype=np.int32)
    ln, rs = e & 31, e >> 5
    size = rs & 0xF
    ok = (ln > 0) & (size > 0) & (size <= 10) & (ln + size <= 16)
    size = np.where(ok, size, 1)
    mag = (np.arange(1 << 16, dtype=np.int32) >> np.where(ok, 16 - ln - size, 0)) & ((1 << size) - 1)
    val = np.where(mag >= (1 << (size - 1)), mag, mag - (1 << size) + 1)
    # |val| < 2^10: pack (consumed, run, val) into one key to share tuples
    key = np.where(ok, ((ln + size) << 16) | ((rs >> 4) << 12) | (val + 2048), -1)
    uniq, inv = np.unique(key, return_inverse=True)
    entries = np.empty(len(uniq), dtype=object)
    entries[:] = [None if k < 0 else (k >> 16, (k >> 12) & 0xF, (k & 0xFFF) - 2048) for k in uniq.tolist()]
    fast = entries[inv].tolist()
    _FAST_AC_CACHE[id(alut)] = fast
    return fast


def decode_jpeg(data: bytes, color_transform: bool = True) -> np.ndarray:
    """Decode a baseline JFIF stream to (h, w, 3) uint8 RGB (gray images
    are replicated to 3 channels). Raises JpegError on non-baseline or
    corrupt input. ``color_transform=False`` skips the YCbCr->RGB step
    for 3-component streams whose samples are already RGB-coded (TIFF
    compression 7 with PhotometricInterpretation=2 — the container tag,
    not an in-stream marker, declares the color model)."""
    if len(data) < 4 or data[0] != 0xFF or data[1] != 0xD8:
        raise JpegError("not a JPEG (no SOI)")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    hluts: dict[tuple[int, int], tuple[list[int], list[int]]] = {}
    restart_interval = 0
    frame: dict | None = None
    prog_state: dict | None = None
    n = len(data)
    while pos + 4 <= n:
        if data[pos] != 0xFF:
            raise JpegError(f"marker expected at {pos}")
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue  # standalone
        (seglen,) = struct.unpack_from(">H", data, pos)
        seg = data[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq_, tq = seg[p] >> 4, seg[p] & 0xF
                p += 1
                if pq_ == 0:
                    t = np.frombuffer(seg, dtype=np.uint8, count=64, offset=p).astype(np.int32)
                    p += 64
                else:
                    t = np.frombuffer(seg, dtype=">u2", count=64, offset=p).astype(np.int32)
                    p += 128
                qtables[tq] = t  # stored in zigzag order
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nv])
                hluts[(tc, th)] = _build_lut(bits, vals)
                p += 17 + nv
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack_from(">H", seg, 0)
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 progressive
            prec, fh, fw, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise JpegError(f"unsupported precision {prec}")
            comps = []
            for ci in range(nc):
                cid, hv, tq = seg[6 + 3 * ci : 9 + 3 * ci]
                comps.append({"id": cid, "h": hv >> 4, "v": hv & 0xF, "tq": tq})
            if nc == 1:
                # T.81 A.2: an Ns=1 scan is non-interleaved — its data
                # units cover ceil(w/8) x ceil(h/8) blocks regardless of
                # declared sampling factors (which only matter RELATIVE to
                # other components). Normalizing to 1x1 makes the MCU and
                # component grids coincide, so both scan paths enumerate
                # the spec-correct block count for single-component frames
                # declaring e.g. 2x2.
                comps[0]["h"] = comps[0]["v"] = 1
            frame = {"h": fh, "w": fw, "comps": comps, "prog": marker == 0xC2}
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise JpegError(f"unsupported SOF marker 0xFF{marker:02X}")
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise JpegError("SOS before SOF")
            ns = seg[0]
            if frame["prog"]:
                if prog_state is None:
                    prog_state = _prog_init(frame)
                scomp = []
                for si in range(ns):
                    cs, tdta = seg[1 + 2 * si : 3 + 2 * si]
                    ci = next(
                        (i for i, c in enumerate(frame["comps"]) if c["id"] == cs), None
                    )
                    if ci is None:
                        raise JpegError(f"SOS component id {cs} not in SOF")
                    scomp.append((ci, frame["comps"][ci], tdta >> 4, tdta & 0xF))
                ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
                scan, nxt = _destuff(data, pos + seglen)
                _prog_scan(
                    prog_state, frame, scomp, ss, se, ahal >> 4, ahal & 0xF,
                    hluts, restart_interval, scan,
                )
                pos = nxt
                continue
            if ns != len(frame["comps"]):
                # non-interleaved multi-scan baseline (one SOS per
                # component): spec-legal but unimplemented — reject typed
                # instead of decoding only the first scan silently wrong
                raise JpegError(
                    f"non-interleaved multi-scan unsupported ({ns} of "
                    f"{len(frame['comps'])} components in SOS)"
                )
            scomp = []
            for si in range(ns):
                cs, tdta = seg[1 + 2 * si : 3 + 2 * si]
                comp = next((c for c in frame["comps"] if c["id"] == cs), None)
                if comp is None:
                    raise JpegError(f"SOS component id {cs} not in SOF")
                scomp.append((comp, tdta >> 4, tdta & 0xF))
            scan, _ = _destuff(data, pos + seglen)
            return _decode_scan(
                frame, scomp, qtables, hluts, restart_interval, scan,
                color_transform=color_transform,
            )
        pos += seglen
    if prog_state is not None:
        return _prog_reconstruct(prog_state, frame, qtables, color_transform=color_transform)
    raise JpegError("no SOS found")


def _decode_scan(
    frame: dict,
    scomp: list[tuple[dict, int, int]],
    qtables: dict[int, np.ndarray],
    hluts: dict[tuple[int, int], tuple[list[int], list[int]]],
    restart_interval: int,
    scan: bytes,
    color_transform: bool = True,
) -> np.ndarray:
    fh, fw = frame["h"], frame["w"]
    hmax = max(c["h"] for c, _, _ in scomp)
    vmax = max(c["v"] for c, _, _ in scomp)
    if hmax > 2 or vmax > 2:
        raise JpegError(f"sampling factors > 2 unsupported ({hmax}x{vmax})")
    mcux = (fw + 8 * hmax - 1) // (8 * hmax)
    mcuy = (fh + 8 * vmax - 1) // (8 * vmax)

    # per-component collected zigzag coefficient rows (lists of 64-int lists)
    coefs: list[list[list[int]]] = [[] for _ in scomp]
    preds = [0] * len(scomp)
    luts = []
    for comp, td, ta in scomp:
        if (0, td) not in hluts or (1, ta) not in hluts:
            raise JpegError("missing Huffman table")
        luts.append((hluts[(0, td)], hluts[(1, ta)], _fast_ac(hluts[(1, ta)])))

    # hot entropy loop: the bit reader is inlined into locals (acc/nbits/
    # pos) — method-call overhead per symbol would otherwise dominate the
    # 64x64-tile decode path. Zero padding past EOS supplies the peek
    # window for the final EOB codes (T.81 pads with 1-bits; only the
    # consumed length matters, and nothing is consumed past the last block).
    # 16 zero bytes cover the 27-bit peek window draining past EOS while
    # the final EOB run decodes (a valid stream needs < 6 of them). A
    # corrupt stream exhausts the padding: the refill's data[pos] raises
    # IndexError, which the one try around the MCU loop turns into
    # JpegError (no per-byte bounds check in this hot loop)
    data = scan + b"\x00" * 16
    acc = 0
    nbits = 0
    pos = 0
    blocks_per_mcu = [(si, c["h"] * c["v"]) for si, (c, _t, _a) in enumerate(scomp)]
    # the peek window is 27 bits (max code 16 + max DC magnitude 11 —
    # legal for third-party tables even though Annex K DC codes are
    # <= 9 bits): code AND magnitude extract from ONE peek, one mask,
    # no second refill on the common path
    mcu_count = 0
    try:
        for _mcu in range(mcux * mcuy):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                # RST segments are byte-aligned: drop ONLY the pad bits of the
                # partial byte. Zeroing acc/nbits would throw away whole bytes
                # of the NEXT segment already prefetched by the 27-bit window.
                drop = nbits % 8
                nbits -= drop
                acc &= (1 << nbits) - 1
                preds = [0] * len(scomp)
            for si, nb in blocks_per_mcu:
                dlut, alut, fast = luts[si]
                pred = preds[si]
                for _b in range(nb):
                    blk = [0] * 64
                    while nbits < 27:
                        acc = (acc << 8) | data[pos]
                        pos += 1
                        nbits += 8
                    e = dlut[(acc >> (nbits - 16)) & 0xFFFF]
                    ln = e & 31
                    if ln == 0:
                        raise JpegError("bad DC Huffman code")
                    s = e >> 5
                    if s > 11:
                        # T.81 F.1.2.1.1: DC magnitude category SSSS <= 11 for
                        # 8-bit precision; a third-party table encoding more
                        # would also overrun the 27-bit (16+11) peek window
                        raise JpegError(f"bad DC magnitude category {s}")
                    if s:
                        v = (acc >> (nbits - ln - s)) & ((1 << s) - 1)
                        ln += s
                        pred += v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                    nbits -= ln
                    acc &= (1 << nbits) - 1
                    blk[0] = pred
                    k = 1
                    while k < 64:
                        while nbits < 27:
                            acc = (acc << 8) | data[pos]
                            pos += 1
                            nbits += 8
                        peek = (acc >> (nbits - 16)) & 0xFFFF
                        f = fast[peek]
                        if f is not None:
                            ln, run, v = f
                            k += run
                            if k > 63:
                                raise JpegError("AC run past block end")
                            nbits -= ln
                            acc &= (1 << nbits) - 1
                            blk[k] = v
                            k += 1
                            continue
                        e = alut[peek]
                        ln = e & 31
                        if ln == 0:
                            raise JpegError("bad AC Huffman code")
                        rs = e >> 5
                        size = rs & 0xF
                        if size == 0:
                            nbits -= ln
                            acc &= (1 << nbits) - 1
                            if rs == 0:  # EOB
                                break
                            if rs != 0xF0:
                                raise JpegError(f"bad AC symbol {rs:#x}")
                            k += 16  # ZRL
                            continue
                        if size > 10:
                            # T.81 F.1.2.2.1: AC SSSS <= 10 for 8-bit
                            # precision; 11-15 from a third-party table would
                            # push ln+size past the 27-bit peek window and
                            # make the magnitude shift below go negative
                            raise JpegError(f"bad AC magnitude category {size}")
                        k += rs >> 4
                        if k > 63:
                            raise JpegError("AC run past block end")
                        v = (acc >> (nbits - ln - size)) & ((1 << size) - 1)
                        nbits -= ln + size
                        acc &= (1 << nbits) - 1
                        blk[k] = v if v >= (1 << (size - 1)) else v - (1 << size) + 1
                        k += 1
                    coefs[si].append(blk)
                preds[si] = pred
            mcu_count += 1
    except IndexError:
        raise JpegError('entropy-coded segment ends before the last MCU') from None

    # batched numeric path: dequant (zigzag order) -> de-zigzag -> IDCT
    planes = []
    for si, (comp, _td, _ta) in enumerate(scomp):
        q = qtables.get(comp["tq"])
        if q is None:
            raise JpegError(f"missing quant table {comp['tq']}")
        # int64 parse of the nested lists is ~30% faster than float64;
        # products are exact either way, so the floats match
        zz = (np.array(coefs[si], dtype=np.int64) * q).astype(np.float64)
        nat = np.zeros_like(zz)
        nat[:, _ZIGZAG] = zz  # zigzag pos k holds natural index _ZIGZAG[k]
        blocks = nat.reshape(-1, 8, 8)
        pix = _idct(blocks)
        # blocks arrive MCU-major: reorder into row-major per component plane
        bw = mcux * comp["h"]  # blocks per row for this component
        bh = mcuy * comp["v"]
        arr = pix  # (nblocks, 8, 8)
        # vectorized scatter: compute each block's (row, col) origin
        nb = arr.shape[0]
        mcu_idx = np.arange(nb) // (comp["h"] * comp["v"])
        sub = np.arange(nb) % (comp["h"] * comp["v"])
        brow = (mcu_idx // mcux) * comp["v"] + sub // comp["h"]
        bcol = (mcu_idx % mcux) * comp["h"] + sub % comp["h"]
        # group into a (bh, bw, 8, 8) grid then collapse
        grid = np.zeros((bh, bw, 8, 8), dtype=np.float64)
        grid[brow, bcol] = arr
        plane = grid.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        # upsample to full resolution
        if comp["h"] < hmax:
            plane = np.repeat(plane, hmax // comp["h"], axis=1)
        if comp["v"] < vmax:
            plane = np.repeat(plane, vmax // comp["v"], axis=0)
        planes.append(plane[:fh, :fw])

    if len(planes) == 1:
        g = np.clip(planes[0].round(), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    if len(planes) != 3:
        raise JpegError(f"{len(planes)}-component scan unsupported")
    if not color_transform:  # RGB-coded samples: no color matrix
        return np.clip(np.dstack(planes).round(), 0, 255).astype(np.uint8)
    return _ycbcr_to_rgb(planes[0], planes[1], planes[2])


# ---------------------------------------------------------------------------
# Progressive mode (ITU-T T.81 §G: spectral selection + successive
# approximation). Scans accumulate into per-component zigzag coefficient
# grids; reconstruction (dequant -> IDCT -> color) runs once at EOI. The
# reference handles progressive via the image crate's decoder; this is a
# from-spec implementation, like the baseline path.
# ---------------------------------------------------------------------------


def _prog_init(frame: dict) -> dict:
    hmax = max(c["h"] for c in frame["comps"])
    vmax = max(c["v"] for c in frame["comps"])
    if hmax > 2 or vmax > 2:
        raise JpegError(f"sampling factors > 2 unsupported ({hmax}x{vmax})")
    mcux = (frame["w"] + 8 * hmax - 1) // (8 * hmax)
    mcuy = (frame["h"] + 8 * vmax - 1) // (8 * vmax)
    coefs = []
    for c in frame["comps"]:
        bw, bh = mcux * c["h"], mcuy * c["v"]
        coefs.append(np.zeros((bh * bw, 64), dtype=np.int32))
    return {"mcux": mcux, "mcuy": mcuy, "hmax": hmax, "vmax": vmax, "coefs": coefs}


def _prog_scan(
    state: dict,
    frame: dict,
    scomp: list[tuple[int, dict, int, int]],
    ss: int,
    se: int,
    ah: int,
    al: int,
    hluts: dict,
    restart_interval: int,
    scan: bytes,
) -> None:
    """Apply one progressive scan to the coefficient state.

    DC scans (ss==0) may interleave all components; AC scans (ss>0) are
    single-component over the component's own block grid (T.81 A.2.2).
    First passes (ah==0) Huffman-decode magnitudes at precision al;
    refinement passes (ah>0) append one correction bit per coefficient."""
    if ss > se or se > 63:
        raise JpegError(f"bad spectral band {ss}..{se}")
    if ss == 0 and se != 0:
        # a DC scan must cover exactly coefficient 0 (T.81 G.1.1) — this
        # also rejects baseline streams relabeled SOF2
        raise JpegError(f"progressive DC scan requires Se=0 (got {ss}..{se})")
    if ah and ah != al + 1:
        raise JpegError(f"successive approximation Ah={ah} must be Al+1={al + 1}")
    mcux, mcuy = state["mcux"], state["mcuy"]
    hmax, vmax = state["hmax"], state["vmax"]
    data = scan + b"\x00" * 16
    acc = 0
    nbits = 0
    pos = 0

    # enumerate the scan's data units as (component index, block index)
    units: list[tuple[int, int]] = []
    if len(scomp) > 1 or ss == 0 and len(scomp) == len(frame["comps"]):
        if ss != 0:
            raise JpegError("interleaved AC scan is illegal (T.81 G.1.1)")
        mcu_units = []
        for ci, c, _td, _ta in scomp:
            bw = mcux * c["h"]
            for b in range(c["h"] * c["v"]):
                mcu_units.append((ci, c, b, bw))
        for m in range(mcux * mcuy):
            my, mx = m // mcux, m % mcux
            for ci, c, b, bw in mcu_units:
                brow = my * c["v"] + b // c["h"]
                bcol = mx * c["h"] + b % c["h"]
                units.append((ci, brow * bw + bcol))
        units_per_ri = len(mcu_units)  # restart counts MCUs
    else:
        ci, c, _td, _ta = scomp[0]
        bw = mcux * c["h"]
        csw = (frame["w"] * c["h"] + hmax - 1) // hmax  # component samples
        csh = (frame["h"] * c["v"] + vmax - 1) // vmax
        cbw, cbh = (csw + 7) // 8, (csh + 7) // 8
        for r in range(cbh):
            for cc in range(cbw):
                units.append((ci, r * bw + cc))
        units_per_ri = 1  # restart counts blocks in non-interleaved scans

    luts = {}
    for ci, c, td, ta in scomp:
        if ss == 0 and ah == 0 and (0, td) not in hluts:
            raise JpegError("missing DC Huffman table")
        # AC scans decode Huffman symbols in BOTH first and refinement
        # passes (refinement still codes run/size + EOBRUN symbols)
        if ss > 0 and (1, ta) not in hluts:
            raise JpegError("missing AC Huffman table")
        luts[ci] = (hluts.get((0, td)), hluts.get((1, ta)))

    preds = {ci: 0 for ci, _, _, _ in scomp}
    eobrun = 0
    coefs = state["coefs"]
    p1, m1 = 1 << al, -1 << al
    # group units per restart interval (interleaved: h*v units per MCU)
    ri_units = restart_interval * units_per_ri if restart_interval else 0
    try:
        for ui, (ci, blk) in enumerate(units):
            if ri_units and ui and ui % ri_units == 0:
                drop = nbits % 8
                nbits -= drop
                acc &= (1 << nbits) - 1
                preds = {k: 0 for k in preds}
                eobrun = 0
            row = coefs[ci][blk]
            if ss == 0:
                # ---- DC pass ----
                if ah == 0:
                    while nbits < 27:
                        acc = (acc << 8) | data[pos]
                        pos += 1
                        nbits += 8
                    dlut = luts[ci][0]
                    e = dlut[(acc >> (nbits - 16)) & 0xFFFF]
                    ln = e & 31
                    if ln == 0:
                        raise JpegError("bad DC Huffman code")
                    s = e >> 5
                    if s > 11:
                        raise JpegError(f"bad DC magnitude category {s}")
                    diff = 0
                    if s:
                        v = (acc >> (nbits - ln - s)) & ((1 << s) - 1)
                        ln += s
                        diff = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                    nbits -= ln
                    acc &= (1 << nbits) - 1
                    preds[ci] += diff
                    row[0] = preds[ci] << al
                else:
                    if nbits < 1:
                        acc = (acc << 8) | data[pos]
                        pos += 1
                        nbits += 8
                    bit = (acc >> (nbits - 1)) & 1
                    nbits -= 1
                    acc &= (1 << nbits) - 1
                    if bit:
                        row[0] = int(row[0]) | p1
                continue
            # ---- AC pass ----
            if ah == 0:
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    while nbits < 27:
                        acc = (acc << 8) | data[pos]
                        pos += 1
                        nbits += 8
                    alut = luts[ci][1]
                    e = alut[(acc >> (nbits - 16)) & 0xFFFF]
                    ln = e & 31
                    if ln == 0:
                        raise JpegError("bad AC Huffman code")
                    rs = e >> 5
                    r, s = rs >> 4, rs & 0xF
                    if s == 0:
                        nbits -= ln
                        acc &= (1 << nbits) - 1
                        if r == 15:
                            k += 16  # ZRL
                            continue
                        eobrun = (1 << r) - 1
                        if r:
                            while nbits < r:
                                acc = (acc << 8) | data[pos]
                                pos += 1
                                nbits += 8
                            eobrun += (acc >> (nbits - r)) & ((1 << r) - 1)
                            nbits -= r
                            acc &= (1 << nbits) - 1
                        break
                    if s > 10:
                        raise JpegError(f"bad AC magnitude category {s}")
                    k += r
                    if k > se:
                        raise JpegError("AC run past band end")
                    v = (acc >> (nbits - ln - s)) & ((1 << s) - 1)
                    nbits -= ln + s
                    acc &= (1 << nbits) - 1
                    val = v if v >= (1 << (s - 1)) else v - (1 << s) + 1
                    row[k] = val << al
                    k += 1
                continue
            # ---- AC refinement (T.81 G.1.2.3) ----
            k = ss
            if eobrun == 0:
                while k <= se:
                    while nbits < 27:
                        acc = (acc << 8) | data[pos]
                        pos += 1
                        nbits += 8
                    alut = luts[ci][1]
                    e = alut[(acc >> (nbits - 16)) & 0xFFFF]
                    ln = e & 31
                    if ln == 0:
                        raise JpegError("bad AC Huffman code")
                    rs = e >> 5
                    r, s = rs >> 4, rs & 0xF
                    nbits -= ln
                    acc &= (1 << nbits) - 1
                    if s == 0:
                        if r != 15:
                            eobrun = 1 << r
                            if r:
                                while nbits < r:
                                    acc = (acc << 8) | data[pos]
                                    pos += 1
                                    nbits += 8
                                eobrun += (acc >> (nbits - r)) & ((1 << r) - 1)
                                nbits -= r
                                acc &= (1 << nbits) - 1
                            break
                        val = 0  # ZRL: skip 16 zero-history coefficients
                    else:
                        if s != 1:
                            raise JpegError(f"bad refinement magnitude {s}")
                        if nbits < 1:
                            acc = (acc << 8) | data[pos]
                            pos += 1
                            nbits += 8
                        sign = (acc >> (nbits - 1)) & 1
                        nbits -= 1
                        acc &= (1 << nbits) - 1
                        val = p1 if sign else m1
                    # advance r zero-history positions, appending correction
                    # bits for every nonzero-history coefficient crossed
                    while k <= se:
                        if row[k] != 0:
                            if nbits < 1:
                                acc = (acc << 8) | data[pos]
                                pos += 1
                                nbits += 8
                            bit = (acc >> (nbits - 1)) & 1
                            nbits -= 1
                            acc &= (1 << nbits) - 1
                            if bit and (int(row[k]) & p1) == 0:
                                row[k] = int(row[k]) + (p1 if row[k] > 0 else m1)
                        else:
                            if r == 0:
                                if val:
                                    row[k] = val
                                k += 1
                                break
                            r -= 1
                        k += 1
            if eobrun > 0:
                while k <= se:
                    if row[k] != 0:
                        if nbits < 1:
                            acc = (acc << 8) | data[pos]
                            pos += 1
                            nbits += 8
                        bit = (acc >> (nbits - 1)) & 1
                        nbits -= 1
                        acc &= (1 << nbits) - 1
                        if bit and (int(row[k]) & p1) == 0:
                            row[k] = int(row[k]) + (p1 if row[k] > 0 else m1)
                    k += 1
                eobrun -= 1
    except IndexError:
        raise JpegError('entropy-coded segment ends before the last data unit') from None


def _prog_reconstruct(
    state: dict, frame: dict, qtables: dict, color_transform: bool = True
) -> np.ndarray:
    """Dequant + IDCT + upsample + color for the accumulated coefficients
    (same numeric path as the baseline tail of _decode_scan, minus the
    MCU-major reorder — progressive grids are already row-major)."""
    mcux, mcuy = state["mcux"], state["mcuy"]
    hmax, vmax = state["hmax"], state["vmax"]
    fh, fw = frame["h"], frame["w"]
    planes = []
    for ci, comp in enumerate(frame["comps"]):
        q = qtables.get(comp["tq"])
        if q is None:
            raise JpegError(f"missing quant table {comp['tq']}")
        bw, bh = mcux * comp["h"], mcuy * comp["v"]
        zz = state["coefs"][ci].astype(np.float64) * q.astype(np.float64)
        nat = np.zeros_like(zz)
        nat[:, _ZIGZAG] = zz
        blocks = nat.reshape(bh, bw, 8, 8)
        pix = _idct(blocks)
        plane = pix.transpose(0, 2, 1, 3).reshape(bh * 8, bw * 8)
        if comp["h"] < hmax:
            plane = np.repeat(plane, hmax // comp["h"], axis=1)
        if comp["v"] < vmax:
            plane = np.repeat(plane, vmax // comp["v"], axis=0)
        planes.append(plane[:fh, :fw])
    if len(planes) == 1:
        g = np.clip(planes[0].round(), 0, 255).astype(np.uint8)
        return np.repeat(g[:, :, None], 3, axis=2)
    if len(planes) != 3:
        raise JpegError(f"{len(planes)}-component frame unsupported")
    if not color_transform:  # RGB-coded samples: no color matrix
        return np.clip(np.dstack(planes).round(), 0, 255).astype(np.uint8)
    return _ycbcr_to_rgb(planes[0], planes[1], planes[2])


def encode_jpeg_progressive(arr: np.ndarray, quality: int = 90) -> bytes:
    """Progressive JFIF encode (SOF2, T.81 §G), 4:4:4 / gray, scan script:

      1. DC first pass, interleaved, successive approximation Al=1
      2. DC refinement (one bit per block)
      3. per component: AC first pass, Ss=1..Se=63, Al=1
      4. per component: AC refinement (correction-bit algorithm, G.1.2.3)

    Quantized coefficients are IDENTICAL to encode_jpeg's, so a decoder
    must reproduce the baseline encoding's pixels exactly — the test
    oracle for decode_jpeg's progressive path. (Engine extension: the
    reference's image crate decodes but does not write progressive.)"""
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if h == 0 or w == 0:
        raise JpegError("empty image")
    qt_l = _scaled_qt(_QT_LUMA, quality)
    qt_c = _scaled_qt(_QT_CHROMA, quality)
    h8 = (h + 7) // 8 * 8
    w8 = (w + 7) // 8 * 8
    if gray:
        comps = [arr.astype(np.float64)]
    else:
        ycc = _rgb_to_ycbcr(arr)
        comps = [ycc[..., i] for i in range(3)]
    quantized: list[np.ndarray] = []
    for ci, plane in enumerate(comps):
        p = np.pad(plane, ((0, h8 - h), (0, w8 - w)), mode="edge") - 128.0
        blocks = _to_blocks(p)
        # einsum, not matmul: the matmul FDCT changed the bytes of 2 of
        # 1,732 seeded encodes (see encode_jpeg), and tests pin these bytes
        coefs = np.einsum("ij,bjk,kl->bil", _C, blocks, _C.T)
        qt = (qt_l if ci == 0 else qt_c).reshape(8, 8).astype(np.float64)
        q = np.round(coefs / qt).astype(np.int32)
        quantized.append(q.reshape(-1, 64)[:, _ZIGZAG])
    nc = 1 if gray else 3
    nblocks = quantized[0].shape[0]
    AL = 1

    out = bytearray()
    out += b"\xff\xd8"
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes(qt_l[_ZIGZAG].tolist())
    if not gray:
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x01" + bytes(qt_c[_ZIGZAG].tolist())
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for ci in range(nc):
        sof += bytes([ci + 1, 0x11, 0 if ci == 0 else 1])
    out += b"\xff\xc2" + struct.pack(">H", len(sof) + 2) + sof  # SOF2
    out += _dht_segment(0, 0, _DC_LUMA_BITS, _DC_LUMA_VALS)
    out += _dht_segment(1, 0, _AC_LUMA_BITS, _AC_LUMA_VALS)
    if not gray:
        out += _dht_segment(0, 1, _DC_CHROMA_BITS, _DC_CHROMA_VALS)
        out += _dht_segment(1, 1, _AC_CHROMA_BITS, _AC_CHROMA_VALS)
    dc_codes = [
        _build_codes(_DC_LUMA_BITS, _DC_LUMA_VALS)
        if ci == 0
        else _build_codes(_DC_CHROMA_BITS, _DC_CHROMA_VALS)
        for ci in range(nc)
    ]
    ac_codes = [
        _build_codes(_AC_LUMA_BITS, _AC_LUMA_VALS)
        if ci == 0
        else _build_codes(_AC_CHROMA_BITS, _AC_CHROMA_VALS)
        for ci in range(nc)
    ]

    def sos_header(comp_ids: list[int], tds: list[int], tas: list[int], ss, se, ah, al):
        seg = bytes([len(comp_ids)])
        for cid, td, ta in zip(comp_ids, tds, tas):
            seg += bytes([cid, (td << 4) | ta])
        seg += bytes([ss, se, (ah << 4) | al])
        return b"\xff\xda" + struct.pack(">H", len(seg) + 2) + seg

    # ---- scan 1: DC first, interleaved, Al=AL ----
    out += sos_header(
        list(range(1, nc + 1)), [0] + [1] * (nc - 1), [0] * nc, 0, 0, 0, AL
    )
    wtr = _JBitWriter()
    preds = [0] * nc
    for b in range(nblocks):
        for ci in range(nc):
            v = int(quantized[ci][b, 0]) >> AL  # arithmetic shift (G.1.2.1)
            diff = v - preds[ci]
            preds[ci] = v
            size = _bit_size(abs(diff))
            code, ln = dc_codes[ci][size]
            wtr.write(code, ln)
            if size:
                wtr.write(diff if diff >= 0 else diff + (1 << size) - 1, size)
    out += wtr.flush()

    # ---- scan 2: DC refinement ----
    out += sos_header(list(range(1, nc + 1)), [0] * nc, [0] * nc, 0, 0, AL, 0)
    wtr = _JBitWriter()
    for b in range(nblocks):
        for ci in range(nc):
            wtr.write(int(quantized[ci][b, 0]) & 1, 1)
    out += wtr.flush()

    # ---- per component: AC first pass (Al=AL) ----
    for ci in range(nc):
        out += sos_header([ci + 1], [0], [0 if ci == 0 else 1], 1, 63, 0, AL)
        wtr = _JBitWriter()
        codes = ac_codes[ci]
        for b in range(nblocks):
            zz = quantized[ci][b]
            shifted = [
                (int(v) >> AL if v >= 0 else -((-int(v)) >> AL)) for v in zz[1:]
            ]
            nzp = [i + 1 for i, v in enumerate(shifted) if v != 0]
            prev = 0
            for k in nzp:
                run = k - prev - 1
                prev = k
                while run > 15:
                    code, ln = codes[0xF0]
                    wtr.write(code, ln)
                    run -= 16
                v = shifted[k - 1]
                size = _bit_size(abs(v))
                code, ln = codes[(run << 4) | size]
                wtr.write(code, ln)
                wtr.write(v if v >= 0 else v + (1 << size) - 1, size)
            if prev != 63:
                code, ln = codes[0x00]  # EOB
                wtr.write(code, ln)
        out += wtr.flush()

    # ---- per component: AC refinement (Ah=AL, Al=0; G.1.2.3) ----
    for ci in range(nc):
        out += sos_header([ci + 1], [0], [0 if ci == 0 else 1], 1, 63, AL, 0)
        wtr = _JBitWriter()
        codes = ac_codes[ci]
        for b in range(nblocks):
            zz = quantized[ci][b]
            temps = [abs(int(v)) for v in zz[1:]]  # band 1..63, magnitudes
            signs = [int(v) > 0 for v in zz[1:]]
            hist = [t >> AL for t in temps]
            newly = [i for i, (t, hh) in enumerate(zip(temps, hist)) if t and hh == 0]
            eob_pos = newly[-1] if newly else -1  # band-relative index
            r = 0
            buffered: list[int] = []
            for i, t in enumerate(temps):
                if t == 0:
                    r += 1
                    continue
                while r > 15 and i <= eob_pos:
                    code, ln = codes[0xF0]
                    wtr.write(code, ln)
                    r -= 16
                    for bit in buffered:
                        wtr.write(bit, 1)
                    buffered = []
                if hist[i] != 0:
                    buffered.append(t & 1)  # correction bit
                    continue
                code, ln = codes[(r << 4) | 1]
                wtr.write(code, ln)
                wtr.write(1 if signs[i] else 0, 1)
                for bit in buffered:
                    wtr.write(bit, 1)
                buffered = []
                r = 0
            if r > 0 or buffered:
                code, ln = codes[0x00]  # EOB covers the tail
                wtr.write(code, ln)
                for bit in buffered:
                    wtr.write(bit, 1)
        out += wtr.flush()

    out += b"\xff\xd9"
    return bytes(out)
