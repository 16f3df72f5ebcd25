"""Pure-numpy baseline JPEG codec (ITU-T T.81) — the engine's codec-free
REAL image path.

This container ships no image library, so until r12 every JPEG payload
(MJPG AVI frames, multimodal image columns) stayed opaque bytes behind a
NotImplementedError seam. Baseline sequential JPEG is public arithmetic
— 8×8 DCT, Annex-K quantization/Huffman tables, canonical Huffman codes,
zigzag, DPCM DC — all expressible in numpy, so the engine can decode the
format UAV MJPEG cameras actually emit (and encode its own fixtures)
with zero native dependencies.

Coverage:
- **decode_jpeg**: baseline DCT (SOF0), 8-bit, 1- or 3-component scans,
  per-component sampling factors h,v ∈ {1,2} (covers 4:4:4, 4:2:2,
  4:2:0), restart markers (DRI/RSTn), custom DQT/DHT tables. Progressive
  (SOF2) and arithmetic coding are rejected with a clear error — the
  reference's cameras emit baseline (uav/frame_reader.py decodes via
  cv2, which for MJPG is baseline too).
- **encode_jpeg**: 4:4:4 / 4:2:2 / 4:2:0 color or single-component
  grayscale, Annex-K tables scaled by the libjpeg quality curve,
  standard Annex-K Huffman tables, optional restart interval, JFIF APP0.

Scale posture: decode runs executor-side inside Arrow-batched UDFs /
DataSource partitions (one frame at a time, bounded); nothing here
touches the driver. The numpy-heavy stages are batched (entropy pass
fills one (n_blocks, 64) coefficient matrix per component; dequant +
IDCT, like the encoder's forward DCT, run as stacked 8×8 matrix
products over a whole component; color transforms vectorized over
planes) and the Huffman walk uses packed 16-bit-peek lookup lists.
Decode takes ~18 ms per 320×180 and ~0.15 s per 640×480 q90 4:2:0
frame on one core of a 4-core x86 box, most of it the Python Huffman
walk; encode ~12 ms per 320×180 q85 frame. The codec seam still prefers
a native library when one is present.

Format facts are public ITU-T T.81 structure (Annex B markers, Annex C
canonical code construction, Annex F decode procedures, Annex K example
tables) as also implemented by libjpeg/PIL/cv2.
"""

from __future__ import annotations

import os
import struct
from functools import lru_cache

import numpy as np

# Decode ceiling on declared frame pixels (default 64 MP — an 8K frame is
# ~33 MP, so real camera frames fit with headroom). Guards _decode_scan's
# coefficient allocation against crafted SOF dimensions; see the bound
# checks there. Read once at import — per-frame env lookups would land in
# the pixel hot path.
_MAX_PIXELS = int(os.environ.get("SPARK_GRAFT_JPEG_MAX_PIXELS", str(1 << 26)))

# ---------------------------------------------------------------------------
# constants: zigzag, Annex K quantization + Huffman tables
# ---------------------------------------------------------------------------

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int32)
_UNZIGZAG = np.argsort(ZIGZAG)

_Q_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.float64).reshape(8, 8)

_Q_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.float64).reshape(8, 8)

# (BITS[1..16], HUFFVAL) — T.81 Annex K.3
_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
for _bits, _vals in (_DC_LUMA, _DC_CHROMA, _AC_LUMA, _AC_CHROMA):
    assert sum(_bits) == len(_vals), "Annex-K table shape"

# orthonormal 8x8 DCT-II matrix: dct = A @ block @ A.T
_A = np.zeros((8, 8))
for _k in range(8):
    for _n in range(8):
        _A[_k, _n] = np.cos((2 * _n + 1) * _k * np.pi / 16) * (
            np.sqrt(0.125) if _k == 0 else 0.5
        )


def _canonical_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """T.81 Annex C: symbol → (code, size), codes assigned in order of
    increasing length."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for size in range(1, 17):
        for _ in range(bits[size - 1]):
            out[vals[k]] = (code, size)
            code += 1
            k += 1
        code <<= 1
    return out


class _FastHuff:
    """16-bit-peek Huffman decode tables (the classic fast-JPEG trick):
    every 16-bit window whose prefix is a valid code maps to (symbol,
    code length) via two numpy arrays built with range fills — one
    lookup + one consume per symbol instead of a per-bit tree walk.

    r18: on top of `packed` ((size << 8) | symbol), two COMBINED tables
    fold the value bits that follow the code into the same 16-bit
    window, so the per-symbol walk does one list lookup + one consume
    for code AND value together whenever code_len + value_len ≤ 16
    (true for essentially every symbol of the Annex-K tables at 8-bit
    precision). Entry layouts (0 = invalid prefix everywhere, negative
    = -packed → two-step fallback for code_len + value_len > 16):

      full_dc[w] = ((diff + 32768) << 5) | consumed           (diff ±32767)
      full_ac[w] > 0, kind = (e >> 5) & 3:
        kind 0 EOB:   e = consumed | (0 << 5)
        kind 1 ZRL:   e = consumed | (1 << 5)
        kind 2 value: e = ((val + 32768) << 11) | (run << 7)
                          | (2 << 5) | consumed
    """

    __slots__ = ("packed", "full_dc", "full_ac")

    def __init__(self, bits: list[int], vals: list[int]):
        # (size << 8) | symbol per 16-bit window, as a plain Python list:
        # one list index per symbol beats two numpy scalar reads in the
        # per-symbol hot loop (numpy scalar indexing allocates)
        packed = np.zeros(1 << 16, dtype=np.int64)  # 0 = invalid prefix
        code, k = 0, 0
        for size in range(1, 17):
            for _ in range(bits[size - 1]):
                start = code << (16 - size)
                span = 1 << (16 - size)
                packed[start : start + span] = (size << 8) | vals[k]
                code += 1
                k += 1
            code <<= 1

        w = np.arange(1 << 16, dtype=np.int64)
        size = packed >> 8
        sym = packed & 0xFF

        def _vbits(s: np.ndarray) -> np.ndarray:
            # value bits right after the code inside the same window,
            # sign-extended per T.81 F.12 (only meaningful where
            # size + s <= 16 and s >= 1 — callers mask)
            sh = np.clip(16 - size - s, 0, 16)
            v = (w >> sh) & ((np.int64(1) << np.clip(s, 0, 16)) - 1)
            return np.where(v >= (np.int64(1) << np.clip(s - 1, 0, 16)),
                            v, v - (np.int64(1) << np.clip(s, 0, 16)) + 1)

        # DC: symbol IS ssss; diff = extend(value bits)
        s_dc = sym
        fits_dc = (packed > 0) & (size + s_dc <= 16)
        diff = np.where(s_dc > 0, _vbits(s_dc), 0)
        full_dc = np.where(
            packed == 0,
            0,
            np.where(
                fits_dc,
                ((diff + 32768) << 5) | (size + s_dc),
                -packed,
            ),
        )
        # AC: symbol is (run << 4) | s
        run = sym >> 4
        s_ac = sym & 0x0F
        fits_ac = (packed > 0) & (s_ac > 0) & (size + s_ac <= 16)
        val = _vbits(s_ac)
        full_ac = np.where(
            packed == 0,
            0,
            np.where(
                s_ac == 0,
                size | (np.where(run == 15, 1, 0) << 5),
                np.where(
                    fits_ac,
                    ((val + 32768) << 11) | (run << 7) | (2 << 5)
                    | (size + s_ac),
                    -packed,
                ),
            ),
        )
        self.packed = packed.tolist()
        self.full_dc = full_dc.tolist()
        self.full_ac = full_ac.tolist()


@lru_cache(maxsize=64)
def _fast_huff_cached(bits_b: bytes, vals_b: bytes) -> _FastHuff:
    """Per-process cache: building a 65536-entry peek table costs ~1.5ms
    x 4 tables, which DOMINATED small-image decode (a 32x32 frame's
    entropy walk is ~1ms) — and MJPEG streams reuse the same standard
    tables for every frame."""
    return _FastHuff(list(bits_b), list(vals_b))


# ---------------------------------------------------------------------------
# encoder
# ---------------------------------------------------------------------------


def _scaled_quant(base: np.ndarray, quality: int) -> np.ndarray:
    """libjpeg quality curve: 1..100 → scaled Annex-K table, clipped to
    the 8-bit DQT range."""
    quality = min(100, max(1, int(quality)))
    scale = 5000 / quality if quality < 50 else 200 - 2 * quality
    return np.clip(np.floor((base * scale + 50) / 100), 1, 255)


def _plane_blocks_mcu_order(
    plane: np.ndarray, mcu_rows: int, mcu_cols: int, v: int, h: int
) -> np.ndarray:
    """Plane → (n_blocks, 8, 8) in MCU-scan order (the interleave the
    entropy stream needs: all of an MCU's v×h blocks before the next
    MCU) — one reshape/transpose, no Python loop."""
    return (
        plane.reshape(mcu_rows, v, 8, mcu_cols, h, 8)
        .transpose(0, 3, 1, 4, 2, 5)
        .reshape(-1, 8, 8)
    )


# The 8×8 transforms run as two stacked matrix products per block
# (_fdct/_idct). A 3-operand np.einsum of the same product runs as one
# unoptimized nested loop (8⁴ multiply-adds per block, no BLAS), ~20×
# slower on the 960 luma blocks of a 320×180 frame. The matrix products
# add the 64 terms in another order than that einsum, so values differ in
# the last bits, and np.rint differs only on an exact .5 tie (flat blocks
# at high quality reach one: 18 of 332 q95 encodes of 320×180 aerial and
# noise frames). For 8-bit data the two orders differ by < 6e-10 after the
# colour transform (each sum's error is ≤ 66u·Σ|terms| ≤ 66u·1150·3.85²),
# so a value farther than _TIE_EPS from a tie rounds alike in both; any
# nearer one is recomputed with the einsum, and encoded bytes and decoded
# pixels stay those of the einsum codec.
_TIE_EPS = 1e-9


def _fdct(blocks: np.ndarray) -> np.ndarray:
    """Forward DCT of stacked (n, 8, 8) blocks."""
    return _A @ blocks @ _A.T


def _idct(coefs: np.ndarray) -> np.ndarray:
    """Inverse DCT of stacked (n, 8, 8) coefficient blocks."""
    return _A.T @ coefs @ _A


def _fdct_einsum(blocks: np.ndarray) -> np.ndarray:
    return np.einsum("ij,njk,kl->nil", _A, blocks, _A.T)


def _idct_einsum(coefs: np.ndarray) -> np.ndarray:
    return np.einsum("ij,njk,kl->nil", _A.T, coefs, _A)


def _on_tie(x: np.ndarray, rounded: np.ndarray) -> np.ndarray:
    """|x - np.rint(x)| > 0.5 - _TIE_EPS per value. Overwrites x: a fresh
    frame-sized temporary costs more page faults than the IDCT."""
    d = np.subtract(x, rounded, out=x)
    return np.abs(d, out=d) > 0.5 - _TIE_EPS


def _quantized_zigzag(blocks: np.ndarray, q: np.ndarray) -> np.ndarray:
    """Batched DCT + quantize + zigzag for a whole component → (n_blocks,
    64) int64 in zigzag order, which the vectorized entropy stage takes
    as is. Blocks with a coefficient on a rounding tie are recomputed
    with the einsum (see _TIE_EPS)."""
    x = blocks - 128.0
    scaled = _fdct(x) / q
    coef = np.rint(scaled)
    tie = _on_tie(scaled, coef).any(axis=(1, 2))
    if tie.any():
        coef[tie] = np.rint(_fdct_einsum(x[tie]) / q)
    return coef.astype(np.int64).reshape(-1, 64)[:, ZIGZAG]


# Vectorized entropy encoder (r18, guide §4.2): a per-symbol Python walk
# was the encoder's entire profile at roundtrip scale (~2µs/symbol × ~3k
# symbols per 32×32 q95 image). The whole scan
# is expressible as numpy array arithmetic — run-length gaps from
# np.nonzero positions, Huffman (code, size) via 256-entry LUT gathers,
# symbol placement via offset cumsums, and bit packing via one
# np.repeat + np.packbits — producing BYTE-IDENTICAL streams (asserted
# by tests/test_r18_optimizations.py against the scalar walk it keeps as
# its parity oracle). DC magnitudes are bounded by |DCT DC| ≤ 8·128 →
# diffs < 4096, so the bit-length LUT covers every legal 8-bit-input
# coefficient; anything beyond it has no Huffman code and raises.

_BL_LUT = np.array([i.bit_length() for i in range(1 << 12)], dtype=np.int64)


@lru_cache(maxsize=16)
def _enc_luts(bits_b: bytes, vals_b: bytes) -> tuple[np.ndarray, np.ndarray]:
    """(code, size) gather tables over the 8-bit symbol space for one
    Huffman table — the vectorized twin of _canonical_codes."""
    codes = _canonical_codes(list(bits_b), list(vals_b))
    code = np.zeros(256, dtype=np.int64)
    size = np.zeros(256, dtype=np.int64)
    for sym, (c, s) in codes.items():
        code[sym] = c
        size[sym] = s
    return code, size


def _pack_bits_vec(codes: np.ndarray, sizes: np.ndarray) -> bytes:
    """MSB-first variable-length bit packing of (code, size) pairs into
    a 1-fill byte-padded, 0xFF-stuffed entropy segment (T.81 B.1.1.5).
    Each symbol's bits land in ≤5 bytes (size ≤ 31 bits + 7 bits of
    byte-offset skew < 40), so every code is shifted into a 40-bit
    byte-aligned window, split into 5 byte lanes,
    and scattered with ONE np.bincount — bit ownership is exclusive, so
    summing byte contributions IS the bitwise OR, with no per-bit
    expansion (the first cut's np.repeat-per-bit was 40% of encode)."""
    total = int(sizes.sum())
    pad = (-total) & 7
    if pad:
        codes = np.append(codes, (1 << pad) - 1)
        sizes = np.append(sizes, pad)
    off = np.cumsum(sizes) - sizes
    aligned = codes << (40 - sizes - (off & 7))
    base = off >> 3
    lanes = np.arange(5)
    pos = (base[:, None] + lanes[None, :]).ravel()
    vals = ((aligned[:, None] >> (8 * (4 - lanes))[None, :]) & 0xFF).ravel()
    n_bytes = (total + pad) >> 3
    by = np.bincount(pos, weights=vals, minlength=n_bytes)[:n_bytes]
    by = by.astype(np.uint8)
    ff = np.flatnonzero(by == 0xFF)
    if len(ff):
        by = np.insert(by, ff + 1, 0)
    return by.tobytes()


def _entropy_segment_vec(
    qz: np.ndarray,
    is_chroma: np.ndarray,
    comp_ids: np.ndarray,
    dc_luts: tuple,
    ac_luts: tuple,
) -> bytes:
    """One restart segment: blocks in stream order → entropy bytes.
    qz (n, 64) int64 zigzag; is_chroma selects the table pair per block;
    comp_ids threads the per-component DC prediction chain."""
    (dcl_c, dcl_s), (dcc_c, dcc_s) = dc_luts
    (acl_c, acl_s), (acc_c, acc_s) = ac_luts
    n = len(qz)

    # DC: per-component sequential diff (preds start at 0 per segment)
    dc = qz[:, 0]
    diff = np.empty_like(dc)
    for c in np.unique(comp_ids):
        m = comp_ids == c
        diff[m] = np.diff(dc[m], prepend=0)
    ssss = _BL_LUT[np.abs(diff)]
    dcode = np.where(is_chroma, dcc_c[ssss], dcl_c[ssss])
    dsize = np.where(is_chroma, dcc_s[ssss], dcl_s[ssss])
    if n and not dsize.all():
        raise KeyError(f"no DC Huffman code for size {ssss[dsize == 0][0]}")
    mask = (np.int64(1) << ssss) - 1
    dval = (diff + np.where(diff < 0, mask, 0)) & mask
    dcode = (dcode << ssss) | dval
    dsize = dsize + ssss

    # AC entries: nonzero positions → (ZRL*, coded value) expansions
    M = qz[:, 1:]
    nzb, nzc = np.nonzero(M)
    n_ent = len(nzb)
    last = np.zeros(n, dtype=np.int64)
    if n_ent:
        pos = nzc + 1
        v = M[nzb, nzc]
        first = np.empty(n_ent, dtype=bool)
        first[0] = True
        first[1:] = nzb[1:] != nzb[:-1]
        prev = np.empty_like(pos)
        prev[0] = 0
        prev[1:] = pos[:-1]
        prev[first] = 0
        gap = pos - prev - 1
        nzrl = gap >> 4
        run = gap & 15
        assq = _BL_LUT[np.abs(v)]
        rs = (run << 4) | assq
        ch = is_chroma[nzb]
        acode = np.where(ch, acc_c[rs], acl_c[rs])
        asize = np.where(ch, acc_s[rs], acl_s[rs])
        if not asize.all():
            raise KeyError(f"no AC Huffman code for {rs[asize == 0][0]:#x}")
        amask = (np.int64(1) << assq) - 1
        aval = (v + np.where(v < 0, amask, 0)) & amask
        acode = (acode << assq) | aval
        asize = asize + assq
        # last nonzero per block: entries are (block, pos)-sorted, so the
        # final entry of each block IS its last position (np.maximum.at
        # was ~1µs/entry — the segment's top cost on big frames)
        block_end = np.empty(n_ent, dtype=bool)
        block_end[:-1] = first[1:]
        block_end[-1] = True
        last[nzb[block_end]] = pos[block_end]
        ent_counts = np.bincount(
            nzb, weights=nzrl + 1, minlength=n
        ).astype(np.int64)
    else:
        ent_counts = np.zeros(n, dtype=np.int64)

    eob = last < 63
    n_sym = 1 + ent_counts + eob
    offs = np.concatenate(([0], np.cumsum(n_sym)))
    codes = np.zeros(offs[-1], dtype=np.int64)
    sizes = np.zeros(offs[-1], dtype=np.int64)
    codes[offs[:-1]] = dcode
    sizes[offs[:-1]] = dsize
    if eob.any():
        ep = offs[1:][eob] - 1
        ech = is_chroma[eob]
        codes[ep] = np.where(ech, acc_c[0], acl_c[0])
        sizes[ep] = np.where(ech, acc_s[0], acl_s[0])
    if n_ent:
        w = nzrl + 1
        wc = np.cumsum(w) - w
        starts = np.zeros(n, dtype=np.int64)
        starts[nzb[first]] = wc[first]
        base = wc - starts[nzb]
        end_pos = offs[:-1][nzb] + 1 + base + nzrl
        codes[end_pos] = acode
        sizes[end_pos] = asize
        tz = int(nzrl.sum())
        if tz:
            ei = np.repeat(np.arange(n_ent), nzrl)
            within = np.arange(tz) - np.repeat(np.cumsum(nzrl) - nzrl, nzrl)
            zpos = end_pos[ei] - nzrl[ei] + within
            zch = ch[ei]
            codes[zpos] = np.where(zch, acc_c[0xF0], acl_c[0xF0])
            sizes[zpos] = np.where(zch, acc_s[0xF0], acl_s[0xF0])
    return _pack_bits_vec(codes, sizes)


def _entropy_scan(
    qz: np.ndarray,
    is_chroma: np.ndarray,
    comp_ids: np.ndarray,
    blocks_per_mcu: int,
    n_mcu: int,
    restart_interval: int,
) -> bytes:
    """Full entropy-coded scan (RST markers included) for stream-ordered
    blocks. A coefficient with no Huffman code (impossible for 8-bit
    input: AC magnitudes stay < 1024, DC diffs < 4096) raises KeyError."""
    dc_luts = (
        _enc_luts(bytes(_DC_LUMA[0]), bytes(_DC_LUMA[1])),
        _enc_luts(bytes(_DC_CHROMA[0]), bytes(_DC_CHROMA[1])),
    )
    ac_luts = (
        _enc_luts(bytes(_AC_LUMA[0]), bytes(_AC_LUMA[1])),
        _enc_luts(bytes(_AC_CHROMA[0]), bytes(_AC_CHROMA[1])),
    )
    peak = np.abs(qz).max(initial=0)
    if peak >= len(_BL_LUT):
        raise KeyError(f"coefficient magnitude {peak} has no Huffman code")
    if not restart_interval:
        return _entropy_segment_vec(qz, is_chroma, comp_ids, dc_luts, ac_luts)
    out = bytearray()
    seg_blocks = restart_interval * blocks_per_mcu
    n_seg = -(-n_mcu * blocks_per_mcu // seg_blocks)
    for si in range(n_seg):
        lo = si * seg_blocks
        hi = min((si + 1) * seg_blocks, n_mcu * blocks_per_mcu)
        if si:
            out += bytes([0xFF, 0xD0 + ((si - 1) & 7)])
        out += _entropy_segment_vec(
            qz[lo:hi], is_chroma[lo:hi], comp_ids[lo:hi], dc_luts, ac_luts
        )
    return bytes(out)


def _rgb_to_ycbcr(rgb: np.ndarray) -> np.ndarray:
    r, g, b = (rgb[..., i].astype(np.float64) for i in range(3))
    return np.stack(
        [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ],
        axis=-1,
    )


def _pad_replicate(plane: np.ndarray, mh: int, mw: int) -> np.ndarray:
    h, w = plane.shape
    ph, pw = (-h) % mh, (-w) % mw
    return np.pad(plane, ((0, ph), (0, pw)), mode="edge")


def _dht_segment(tc_th: int, bits: list[int], vals: list[int]) -> bytes:
    body = bytes([tc_th]) + bytes(bits) + bytes(vals)
    return b"\xff\xc4" + struct.pack(">H", len(body) + 2) + body


def encode_jpeg(
    rgb: np.ndarray,
    quality: int = 90,
    subsampling: str = "4:2:0",
    restart_interval: int = 0,
) -> bytes:
    """Baseline JFIF encode: HxWx3 uint8 RGB, or HxW uint8 grayscale
    (emitted as a 1-component scan)."""
    rgb = np.asarray(rgb, dtype=np.uint8)
    if rgb.ndim == 2:
        return _encode_gray(rgb, quality, restart_interval)
    if rgb.ndim != 3 or rgb.shape[2] != 3:
        raise ValueError("encode_jpeg expects HxWx3 RGB or HxW gray uint8")
    if subsampling not in ("4:4:4", "4:2:2", "4:2:0"):
        raise ValueError("subsampling must be '4:4:4', '4:2:2' or '4:2:0'")
    h, w = rgb.shape[:2]
    hs = 1 if subsampling == "4:4:4" else 2
    vs = 2 if subsampling == "4:2:0" else 1

    ycc = _rgb_to_ycbcr(rgb)
    y = _pad_replicate(ycc[..., 0], 8 * vs, 8 * hs)
    cb_full = _pad_replicate(ycc[..., 1], 8 * vs, 8 * hs)
    cr_full = _pad_replicate(ycc[..., 2], 8 * vs, 8 * hs)
    # box-average down to the chroma geometry
    cb = cb_full.reshape(
        cb_full.shape[0] // vs, vs, cb_full.shape[1] // hs, hs
    ).mean(axis=(1, 3))
    cr = cr_full.reshape(
        cr_full.shape[0] // vs, vs, cr_full.shape[1] // hs, hs
    ).mean(axis=(1, 3))

    ql = _scaled_quant(_Q_LUMA, quality)
    qc = _scaled_quant(_Q_CHROMA, quality)

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += (  # APP0 JFIF 1.01, no density, no thumbnail
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    for tq, q in ((0, ql), (1, qc)):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq])
        out += bytes(q.ravel()[ZIGZAG].astype(np.uint8))
    out += b"\xff\xc0" + struct.pack(">H", 17) + b"\x08"  # SOF0, 8-bit
    out += struct.pack(">HH", h, w) + b"\x03"
    out += bytes([1, (hs << 4) | vs, 0])  # Y
    out += bytes([2, 0x11, 1])  # Cb
    out += bytes([3, 0x11, 1])  # Cr
    out += _dht_segment(0x00, *_DC_LUMA)
    out += _dht_segment(0x10, *_AC_LUMA)
    out += _dht_segment(0x01, *_DC_CHROMA)
    out += _dht_segment(0x11, *_AC_CHROMA)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">H", 12) + b"\x03"
    out += bytes([1, 0x00, 2, 0x11, 3, 0x11]) + bytes([0, 63, 0])

    mcu_rows = y.shape[0] // (8 * vs)
    mcu_cols = y.shape[1] // (8 * hs)
    n_mcu = mcu_rows * mcu_cols
    blocks_per_mcu = vs * hs
    # batched DCT + quant for every component up front, then the whole
    # interleaved scan assembles into ONE stream-ordered block matrix
    # for the vectorized entropy pass (r18)
    yzz = _quantized_zigzag(
        _plane_blocks_mcu_order(y, mcu_rows, mcu_cols, vs, hs), ql
    )
    cbzz = _quantized_zigzag(
        _plane_blocks_mcu_order(cb, mcu_rows, mcu_cols, 1, 1), qc
    )
    crzz = _quantized_zigzag(
        _plane_blocks_mcu_order(cr, mcu_rows, mcu_cols, 1, 1), qc
    )
    per_mcu = blocks_per_mcu + 2
    stream = np.empty((n_mcu, per_mcu, 64), dtype=np.int64)
    stream[:, :blocks_per_mcu] = yzz.reshape(n_mcu, blocks_per_mcu, 64)
    stream[:, blocks_per_mcu] = cbzz
    stream[:, blocks_per_mcu + 1] = crzz
    is_chroma = np.tile(
        np.array([False] * blocks_per_mcu + [True, True]), n_mcu
    )
    comp_ids = np.tile(
        np.array([0] * blocks_per_mcu + [1, 2], dtype=np.int64), n_mcu
    )
    out += _entropy_scan(
        stream.reshape(-1, 64), is_chroma, comp_ids, per_mcu, n_mcu,
        restart_interval,
    )
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _encode_gray(gray: np.ndarray, quality: int, restart_interval: int) -> bytes:
    """1-component baseline scan (Y only, no chroma planes)."""
    h, w = gray.shape
    y = _pad_replicate(gray.astype(np.float64), 8, 8)
    ql = _scaled_quant(_Q_LUMA, quality)
    out = bytearray()
    out += b"\xff\xd8"
    out += (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
        + struct.pack(">HH", 1, 1) + b"\x00\x00"
    )
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00"
    out += bytes(ql.ravel()[ZIGZAG].astype(np.uint8))
    out += b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
    out += struct.pack(">HH", h, w) + b"\x01" + bytes([1, 0x11, 0])
    out += _dht_segment(0x00, *_DC_LUMA)
    out += _dht_segment(0x10, *_AC_LUMA)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">H", 8) + b"\x01"
    out += bytes([1, 0x00]) + bytes([0, 63, 0])
    mcu_rows, mcu_cols = y.shape[0] // 8, y.shape[1] // 8
    n_mcu = mcu_rows * mcu_cols
    yzz = _quantized_zigzag(
        _plane_blocks_mcu_order(y, mcu_rows, mcu_cols, 1, 1), ql
    )
    out += _entropy_scan(
        yzz,
        np.zeros(n_mcu, dtype=bool),
        np.zeros(n_mcu, dtype=np.int64),
        1,
        n_mcu,
        restart_interval,
    )
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# decoder
# ---------------------------------------------------------------------------


class JpegFormatError(ValueError):
    pass


def _split_scan(buf: bytes, start: int) -> tuple[list[bytes], int]:
    """Entropy-coded data from `start` → stuffing-free segments split at
    RST markers; returns (segments, offset of the terminating marker).
    Walks marker-to-marker with bytes.find (C speed) instead of
    byte-at-a-time Python."""
    segs: list[bytes] = []
    cur = bytearray()
    i = start
    n = len(buf)
    while i < n:
        j = buf.find(b"\xff", i)
        if j == -1:
            cur += buf[i:]
            i = n
            break
        cur += buf[i:j]
        m = buf[j + 1] if j + 1 < n else 0xD9
        if m == 0x00:  # stuffed 0xFF data byte
            cur.append(0xFF)
            i = j + 2
        elif 0xD0 <= m <= 0xD7:  # restart
            segs.append(bytes(cur))
            cur = bytearray()
            i = j + 2
        else:  # real marker terminates the scan
            i = j
            break
    segs.append(bytes(cur))
    return segs, i


def decode_jpeg(buf: bytes) -> np.ndarray:
    """Baseline JPEG → HxWx3 uint8 RGB (grayscale replicates to 3
    channels so callers get one shape). Malformed or truncated input
    raises JpegFormatError, never a bare IndexError/struct.error."""
    try:
        return _decode_jpeg(bytes(buf))
    except (IndexError, KeyError, struct.error, StopIteration) as exc:
        # KeyError: a scan referencing a DHT/DQT table id never defined
        raise JpegFormatError(f"malformed JPEG: {exc!r}") from exc


def _check_fits(seg: bytes, end: int, what: str) -> None:
    """A table inside a marker segment must end inside that segment."""
    if end > len(seg):
        raise JpegFormatError(
            f"{what} table needs {end} bytes, its segment has {len(seg)}"
        )


def _decode_jpeg(buf: bytes) -> np.ndarray:
    if buf[:2] != b"\xff\xd8":
        raise JpegFormatError("not a JPEG (no SOI)")
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], dict] = {}  # (class 0|1, id) → decode table
    comps: list[dict] = []
    h = w = 0
    restart_interval = 0
    i = 2
    while i < len(buf):
        if buf[i] != 0xFF:
            raise JpegFormatError(f"expected marker at {i}")
        # T.81 B.1.1.2: a marker may be preceded by any number of 0xFF
        # fill bytes (real encoders/cameras emit them) — skip them so the
        # next byte is the marker code, not a phantom length segment
        while i + 1 < len(buf) and buf[i + 1] == 0xFF:
            i += 1
        if i + 1 >= len(buf):
            raise JpegFormatError("truncated marker stream")
        m = buf[i + 1]
        if m == 0xD9:  # EOI
            break
        if m in (0x01,) or 0xD0 <= m <= 0xD7:
            i += 2
            continue
        seglen = struct.unpack(">H", buf[i + 2 : i + 4])[0]
        if seglen < 2 or i + 2 + seglen > len(buf):
            raise JpegFormatError(
                f"marker 0xFF{m:02X} declares {seglen} bytes, "
                f"{len(buf) - i - 2} left"
            )
        seg = buf[i + 4 : i + 2 + seglen]
        if m == 0xDB:  # DQT (possibly several tables per segment)
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0x0F
                if pq != 0:
                    raise JpegFormatError("16-bit quant tables unsupported")
                _check_fits(seg, p + 65, "DQT")
                tbl = np.zeros(64)
                tbl[ZIGZAG] = np.frombuffer(seg[p + 1 : p + 65], dtype=np.uint8)
                qt[tq] = tbl.reshape(8, 8)
                p += 65
        elif m == 0xC4:  # DHT (possibly several tables)
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0x0F
                _check_fits(seg, p + 17, "DHT")
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                _check_fits(seg, p + 17 + nv, "DHT")
                vals = list(seg[p + 17 : p + 17 + nv])
                huff[(tc, th)] = _fast_huff_cached(bytes(bits), bytes(vals))
                p += 17 + nv
        elif m == 0xC0 or m == 0xC1:  # SOF0/1 (baseline / ext sequential)
            if seg[0] != 8:
                raise JpegFormatError("only 8-bit precision supported")
            h, w = struct.unpack(">HH", seg[1:5])
            nc = seg[5]
            _check_fits(seg, 6 + 3 * nc, "SOF component")
            comps = []
            for c in range(nc):
                cid, hv, tq = seg[6 + 3 * c : 9 + 3 * c]
                comps.append(
                    {"id": cid, "h": hv >> 4, "v": hv & 0x0F, "tq": tq}
                )
        elif m in (0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise JpegFormatError(
                f"SOF marker 0xFF{m:02X}: only baseline sequential DCT "
                "(SOF0/SOF1) is supported"
            )
        elif m == 0xDD:  # DRI
            restart_interval = struct.unpack(">H", seg[:2])[0]
        elif m == 0xDA:  # SOS
            ns = seg[0]
            _check_fits(seg, 4 + 2 * ns, "SOS component")
            scan_sel = []
            for c in range(ns):
                cs, tdta = seg[1 + 2 * c], seg[2 + 2 * c]
                comp = next(x for x in comps if x["id"] == cs)
                scan_sel.append((comp, tdta >> 4, tdta & 0x0F))
            segs, _end = _split_scan(buf, i + 2 + seglen)
            return _decode_scan(
                segs, scan_sel, qt, huff, h, w, restart_interval
            )
        i += 2 + seglen
    raise JpegFormatError("no SOS scan found")


def _decode_scan(
    segs: list[bytes],
    scan: list[tuple[dict, int, int]],
    qt: dict,
    huff: dict,
    h: int,
    w: int,
    restart_interval: int,
) -> np.ndarray:
    if not scan or h == 0 or w == 0:
        raise JpegFormatError("scan before SOF, or empty frame")
    hmax = max(c["h"] for c, _, _ in scan)
    vmax = max(c["v"] for c, _, _ in scan)
    if not all(c["h"] in (1, 2) and c["v"] in (1, 2) for c, _, _ in scan):
        raise JpegFormatError("sampling factors beyond 1..2 unsupported")
    mcu_w, mcu_h = 8 * hmax, 8 * vmax
    mcu_cols = -(-w // mcu_w)
    mcu_rows = -(-h // mcu_h)

    comp_blocks = [c["v"] * c["h"] for c, _, _ in scan]

    # Bound declared geometry BEFORE allocating coefficient matrices: a
    # ~200-byte corrupt/crafted frame declaring 65535x65535 would demand
    # tens of GB here and OOM an executor instead of raising. Two gates:
    # (a) a hard pixel ceiling, (b) every 8x8 block consumes >= 1 bit of
    # entropy data (the shortest possible DC code), so the declared block
    # count can never exceed the entropy bits actually present.
    if h * w > _MAX_PIXELS:
        raise JpegFormatError(
            f"declared frame {w}x{h} exceeds the {_MAX_PIXELS}-pixel "
            "decode ceiling (SPARK_GRAFT_JPEG_MAX_PIXELS)"
        )
    total_blocks = mcu_rows * mcu_cols * sum(comp_blocks)
    entropy_bits = 8 * sum(len(s) for s in segs)
    if total_blocks > entropy_bits:
        raise JpegFormatError(
            f"declared geometry needs {total_blocks} blocks but the scan "
            f"carries only {entropy_bits} bits of entropy data"
        )

    # entropy pass: per-component (n_blocks, 64) zigzag coefficient
    # matrices in MCU-scan order; all numpy math happens batched after.
    # The per-symbol walk is INLINED here (r18) so the bit-reader state
    # lives in plain locals for the entire restart segment — the former
    # per-block _decode_block_zz call paid a function call, a
    # try/finally and 8 attribute save/restores per block, which was
    # ~15% of decode once the combined value+code LUTs landed. Decoded
    # coefficients accumulate into flat (index, value) Python lists and
    # scatter into the matrices ONCE per scan (a numpy scalar setitem
    # per nonzero was most of the rest). Bit semantics are unchanged:
    # zero-filled peeks past the end are fine (that is how the final
    # byte's pad bits work), consuming past the real bit count raises.
    coefs = [
        np.zeros((mcu_rows * mcu_cols * c["v"] * c["h"], 64))
        for c, _, _ in scan
    ]
    counters = [0] * len(scan)
    tabs = [
        (huff[(0, td)].full_dc, huff[(1, ta)].full_ac) for _, td, ta in scan
    ]
    flat_idx: list[list[int]] = [[] for _ in scan]
    flat_val: list[list[int]] = [[] for _ in scan]
    n_comps = len(scan)

    # Refills read from a zero-padded copy of the segment, which removes
    # the per-refill bounds test; `loaded` counts every bit shifted in,
    # so consumed = loaded - acc_bits and the per-symbol `pos`
    # bookkeeping collapses into the block-end exhaustion check. Pad
    # bits are zeros = the old virtual fill. The 224 pad bytes cover the
    # worst block under the Annex K tables (63 x 26 + 20 bits), not
    # every block: a crafted DHT (16-bit codes with long value reads)
    # over a truncated scan can read past the pad. That read raises IndexError, which decode_jpeg turns into
    # JpegFormatError, so the caller still sees a format error.
    _PAD = b"\x00" * 224
    seg_idx = 0
    data = segs[0] + _PAD
    n_bits = len(segs[0]) * 8
    idx = 0
    acc = 0
    acc_bits = 0
    loaded = 0
    preds = [0] * n_comps
    n_in_interval = 0
    for _mcu in range(mcu_rows * mcu_cols):
        if restart_interval and n_in_interval == restart_interval:
            seg_idx += 1
            if seg_idx >= len(segs):
                raise JpegFormatError("missing restart segment")
            data = segs[seg_idx] + _PAD
            n_bits = len(segs[seg_idx]) * 8
            idx = acc = acc_bits = loaded = 0
            preds = [0] * n_comps
            n_in_interval = 0
        for ci in range(n_comps):
            dc_full, ac_full = tabs[ci]
            fi, fv = flat_idx[ci], flat_val[ci]
            pred = preds[ci]
            k0 = counters[ci]
            for _b in range(comp_blocks[ci]):
                base = k0 << 6
                k0 += 1
                # DC — combined (code + value) single-lookup fast path
                while acc_bits < 16:
                    acc = (acc << 8) | data[idx]
                    idx += 1
                    acc_bits += 8
                    loaded += 8
                e = dc_full[(acc >> (acc_bits - 16)) & 0xFFFF]
                if e > 0:
                    acc_bits -= e & 31
                    acc &= (1 << acc_bits) - 1
                    pred += (e >> 5) - 32768
                elif e == 0:
                    raise JpegFormatError("invalid Huffman code")
                else:  # code + value straddle the window: two-step
                    packed = -e
                    acc_bits -= packed >> 8
                    acc &= (1 << acc_bits) - 1
                    ssss = packed & 0xFF
                    while acc_bits < ssss:
                        acc = (acc << 8) | data[idx]
                        idx += 1
                        acc_bits += 8
                        loaded += 8
                    v = (acc >> (acc_bits - ssss)) & ((1 << ssss) - 1)
                    acc_bits -= ssss
                    acc &= (1 << acc_bits) - 1
                    pred += (
                        v if v >= (1 << (ssss - 1)) else v - (1 << ssss) + 1
                    )
                fi.append(base)
                fv.append(pred)
                k = 1
                while k < 64:
                    while acc_bits < 16:
                        acc = (acc << 8) | data[idx]
                        idx += 1
                        acc_bits += 8
                        loaded += 8
                    e = ac_full[(acc >> (acc_bits - 16)) & 0xFFFF]
                    if e >= 2048:  # (run, value) in one combined entry
                        acc_bits -= e & 31
                        acc &= (1 << acc_bits) - 1
                        k += (e >> 7) & 15
                        if k > 63:
                            raise JpegFormatError("AC run past block end")
                        fi.append(base + k)
                        fv.append((e >> 11) - 32768)
                        k += 1
                        continue
                    if e > 0:  # EOB or ZRL (no value bits)
                        acc_bits -= e & 31
                        acc &= (1 << acc_bits) - 1
                        if e & 32:  # ZRL
                            k += 16
                            continue
                        break  # EOB
                    if e == 0:
                        raise JpegFormatError("invalid Huffman code")
                    packed = -e  # straddling entry: two-step
                    rs = packed & 0xFF
                    acc_bits -= packed >> 8
                    acc &= (1 << acc_bits) - 1
                    s = rs & 0x0F
                    k += rs >> 4
                    if k > 63:
                        raise JpegFormatError("AC run past block end")
                    while acc_bits < s:
                        acc = (acc << 8) | data[idx]
                        idx += 1
                        acc_bits += 8
                        loaded += 8
                    v = (acc >> (acc_bits - s)) & ((1 << s) - 1)
                    acc_bits -= s
                    acc &= (1 << acc_bits) - 1
                    fi.append(base + k)
                    fv.append(v if v >= (1 << (s - 1)) else v - (1 << s) + 1)
                    k += 1
                if loaded - acc_bits > n_bits:
                    raise JpegFormatError("entropy segment exhausted")
            counters[ci] = k0
            preds[ci] = pred
        n_in_interval += 1
    for ci in range(n_comps):
        if flat_idx[ci]:
            coefs[ci].ravel()[flat_idx[ci]] = flat_val[ci]

    blocks = [
        (mat * qt[c["tq"]].ravel()[ZIGZAG])[:, _UNZIGZAG].reshape(-1, 8, 8)
        for (c, _, _), mat in zip(scan, coefs)
    ]

    def pixels(idct) -> np.ndarray:
        """Unrounded pixels: batched IDCT, MCU-scan order → plane geometry
        via one transpose, upsample (nearest), crop, then YCbCr → RGB. A
        one-component scan stays one HxW plane."""
        full = []
        for (c, _, _), blk in zip(scan, blocks):
            v_, h_ = c["v"], c["h"]
            spatial = idct(blk) + 128.0
            plane = (
                spatial.reshape(mcu_rows, mcu_cols, v_, h_, 8, 8)
                .transpose(0, 2, 4, 1, 3, 5)
                .reshape(mcu_rows * v_ * 8, mcu_cols * h_ * 8)
            )
            ry, rx = vmax // v_, hmax // h_
            if ry > 1 or rx > 1:
                plane = plane.repeat(ry, axis=0).repeat(rx, axis=1)
            full.append(plane[:h, :w])
        if len(full) == 1:
            return full[0]
        y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        b = y + 1.772 * cb
        return np.stack([r, g, b], axis=-1)

    px = pixels(_idct)
    out = np.rint(px)
    if _on_tie(px, out).any():
        out = np.rint(pixels(_idct_einsum))
    out = np.clip(out, 0, 255).astype(np.uint8)
    return np.stack([out, out, out], axis=-1) if out.ndim == 2 else out


def is_jpeg(buf: bytes) -> bool:
    return len(buf) > 3 and buf[:2] == b"\xff\xd8" and buf[2] == 0xFF
