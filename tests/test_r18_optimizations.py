"""Round-18 optimization pins: internals changed for speed must stay
bit-identical to the shapes they replaced.

JPEG codec (operators/jpeg.py): the entropy encoder is vectorized
(whole-array numpy symbol assembly + one-bincount bit packing) and the
decoder walk uses combined code+value LUTs with inlined bit-reader
state. Neither may move a single BIT: the encoder's output feeds the
disk MJPG fixtures (cache keys must not rotate) and the decoder's
output feeds md5-signed pixel moments. The scalar per-symbol encoder
below is the parity oracle; these tests hold the package's vectorized
path equal to it and pin golden digests so any future edit that drifts
a byte fails loudly.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from uav_streamprocessor_spark.operators import jpeg


# -- scalar entropy encoder: the parity oracle --------------------------------


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, size: int) -> None:
        if size == 0:
            return
        self._acc = (self._acc << size) | (code & ((1 << size) - 1))
        self._n += size
        while self._n >= 8:
            b = (self._acc >> (self._n - 8)) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing
                self.buf.append(0x00)
            self._n -= 8
        self._acc &= (1 << self._n) - 1

    def pad_to_byte(self) -> None:
        if self._n:
            self.write((1 << (8 - self._n)) - 1, 8 - self._n)  # 1-fill


def _encode_block_zz(
    bw: _BitWriter, zz: list, dc_codes: dict, ac_codes: dict, pred: int
) -> int:
    """Entropy-encode one pre-quantized zigzag block with the bit-packer
    state inlined as locals (the per-symbol write() calls were the
    encoder's top profile line; same treatment as the decoder's walk)."""
    buf = bw.buf
    acc, n = bw._acc, bw._n
    dc = zz[0]
    diff = dc - pred
    ssss = diff.bit_length() if diff > 0 else (-diff).bit_length()
    code, size = dc_codes[ssss]
    if ssss:
        code = (code << ssss) | (
            (diff if diff >= 0 else diff + (1 << ssss) - 1) & ((1 << ssss) - 1)
        )
        size += ssss
    acc = (acc << size) | code
    n += size
    while n >= 8:
        b = (acc >> (n - 8)) & 0xFF
        buf.append(b)
        if b == 0xFF:
            buf.append(0x00)
        n -= 8
    acc &= (1 << n) - 1

    last = 63
    while last > 0 and zz[last] == 0:
        last -= 1
    run = 0
    for i in range(1, last + 1):
        v = zz[i]
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, size = ac_codes[0xF0]  # ZRL
            acc = (acc << size) | code
            n += size
            while n >= 8:
                b = (acc >> (n - 8)) & 0xFF
                buf.append(b)
                if b == 0xFF:
                    buf.append(0x00)
                n -= 8
            acc &= (1 << n) - 1
            run -= 16
        ssss = v.bit_length() if v > 0 else (-v).bit_length()
        code, size = ac_codes[(run << 4) | ssss]
        code = (code << ssss) | (
            (v if v >= 0 else v + (1 << ssss) - 1) & ((1 << ssss) - 1)
        )
        size += ssss
        acc = (acc << size) | code
        n += size
        while n >= 8:
            b = (acc >> (n - 8)) & 0xFF
            buf.append(b)
            if b == 0xFF:
                buf.append(0x00)
            n -= 8
        acc &= (1 << n) - 1
        run = 0
    if last < 63:
        code, size = ac_codes[0x00]  # EOB
        acc = (acc << size) | code
        n += size
        while n >= 8:
            b = (acc >> (n - 8)) & 0xFF
            buf.append(b)
            if b == 0xFF:
                buf.append(0x00)
            n -= 8
        acc &= (1 << n) - 1
    bw._acc, bw._n = acc, n
    return dc


def _entropy_scan_scalar(
    qz: np.ndarray,
    is_chroma: np.ndarray,
    comp_ids: np.ndarray,
    blocks_per_mcu: int,
    n_mcu: int,
    restart_interval: int,
) -> bytes:
    """The r12-r17 per-symbol walk over the same stream-ordered blocks:
    the parity oracle for `jpeg._entropy_scan`. A symbol with no Huffman
    code raises KeyError from the dict lookup."""
    dcl = jpeg._canonical_codes(*jpeg._DC_LUMA)
    dcc = jpeg._canonical_codes(*jpeg._DC_CHROMA)
    acl = jpeg._canonical_codes(*jpeg._AC_LUMA)
    acc = jpeg._canonical_codes(*jpeg._AC_CHROMA)
    zz = qz.tolist()
    out = bytearray()
    bw = _BitWriter()
    preds: dict[int, int] = {}
    rst = 0
    n_in_interval = 0
    for mi in range(n_mcu):
        if restart_interval and n_in_interval == restart_interval:
            bw.pad_to_byte()
            out += bw.buf
            out += bytes([0xFF, 0xD0 + (rst & 7)])
            bw = _BitWriter()
            preds = {}
            rst += 1
            n_in_interval = 0
        for b in range(blocks_per_mcu):
            i = mi * blocks_per_mcu + b
            dc_t, ac_t = (dcc, acc) if is_chroma[i] else (dcl, acl)
            cid = int(comp_ids[i])
            preds[cid] = _encode_block_zz(
                bw, zz[i], dc_t, ac_t, preds.get(cid, 0)
            )
        n_in_interval += 1
    bw.pad_to_byte()
    out += bw.buf
    return bytes(out)


def _rand_stream(rng, n_mcu: int, bpm: int, lo: int, hi: int):
    """Random stream-ordered block matrix + table/component selectors in
    the exact layout encode_jpeg hands to _entropy_scan."""
    per_mcu = bpm + 2
    qz = rng.integers(lo, hi, (n_mcu * per_mcu, 64), dtype=np.int64)
    # most coefficients are zero in real scans; sparsify to get realistic
    # run/ZRL/EOB structure (keep some rows fully dense and some empty)
    keep = rng.random((n_mcu * per_mcu, 64)) < 0.15
    keep[:, 0] = True
    qz = np.where(keep, qz, 0)
    is_chroma = np.tile(np.array([False] * bpm + [True, True]), n_mcu)
    comp_ids = np.tile(np.array([0] * bpm + [1, 2], dtype=np.int64), n_mcu)
    return qz, is_chroma, comp_ids, per_mcu


@pytest.mark.parametrize("bpm,restart", [(1, 0), (1, 3), (4, 0), (2, 1), (4, 7)])
def test_jpeg_entropy_vec_scalar_parity(bpm, restart):
    """The vectorized entropy scan is byte-identical to the scalar
    oracle walk over randomized coefficient matrices (dense, sparse,
    ZRL-heavy, negative), across MCU shapes and restart intervals."""
    rng = np.random.default_rng(180_001 + bpm * 10 + restart)
    for n_mcu in (1, 2, 9, 40):
        # AC magnitudes stay <= 1023 (ssss <= 10) — the range reachable
        # from 8-bit input and covered by the Annex-K AC tables; DC
        # diffs then reach +-2046 (ssss 11), the DC tables' edge
        for lo, hi in ((-1023, 1024), (-3, 4), (-1, 2)):
            qz, is_chroma, comp_ids, per_mcu = _rand_stream(
                rng, n_mcu, bpm, lo, hi
            )
            vec = jpeg._entropy_scan(
                qz, is_chroma, comp_ids, per_mcu, n_mcu, restart
            )
            sca = _entropy_scan_scalar(
                qz, is_chroma, comp_ids, per_mcu, n_mcu, restart
            )
            assert vec == sca


def test_jpeg_entropy_unencodable_symbol_raises_like_scalar():
    """An AC magnitude beyond the Annex-K table range (ssss 11 — not
    reachable from 8-bit input) raises the same loud KeyError the
    r12-r17 walk raised, instead of silently emitting zero-bit codes."""
    rng = np.random.default_rng(180_004)
    qz, is_chroma, comp_ids, per_mcu = _rand_stream(rng, 4, 1, -2, 3)
    qz[2, 5] = 2000  # ssss 11: no (run, 11) AC code exists
    with pytest.raises(KeyError):
        jpeg._entropy_scan(qz, is_chroma, comp_ids, per_mcu, 4, 0)
    with pytest.raises(KeyError):
        _entropy_scan_scalar(qz, is_chroma, comp_ids, per_mcu, 4, 0)


def test_jpeg_entropy_vec_overflow_raises():
    """Coefficients beyond the bit-length LUT bound (impossible from
    8-bit input, possible for a hostile caller) raise BEFORE any LUT
    gather — such magnitudes have no Huffman code, so the vectorized
    path and the scalar oracle fail with the same loud KeyError."""
    rng = np.random.default_rng(180_002)
    qz, is_chroma, comp_ids, per_mcu = _rand_stream(rng, 4, 1, -2, 3)
    qz[2, 5] = 1 << 13  # >= len(_BL_LUT)
    with pytest.raises(KeyError):
        jpeg._entropy_scan(qz, is_chroma, comp_ids, per_mcu, 4, 0)
    with pytest.raises(KeyError):
        _entropy_scan_scalar(qz, is_chroma, comp_ids, per_mcu, 4, 0)


def test_jpeg_encode_decode_golden_digests():
    """End-to-end pins: seeded images encode to the exact bytes and
    decode to the exact pixels the r17 codec produced (digests recorded
    from the pre-vectorization implementation). A drift in either
    direction rotates the MJPG fixture key or the md5 moment signatures
    — this fails first."""
    rng = np.random.default_rng(424242)
    img = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    buf = jpeg.encode_jpeg(img, quality=95, subsampling="4:4:4")
    assert hashlib.md5(buf).hexdigest() == (
        "3c3b9dd454cb8c8755b7fbd73b30c651"
    )
    out = jpeg.decode_jpeg(buf)
    assert hashlib.md5(out.tobytes()).hexdigest() == (
        "9d57150e16411c0d9fc34e92094639d1"
    )
    big = rng.integers(0, 256, (72, 96, 3), dtype=np.uint8)
    buf420 = jpeg.encode_jpeg(big, quality=85, subsampling="4:2:0",
                              restart_interval=3)
    assert hashlib.md5(buf420).hexdigest() == (
        "018721676764dffb68bdefcde86fa6bb"
    )
    out420 = jpeg.decode_jpeg(buf420)
    assert hashlib.md5(out420.tobytes()).hexdigest() == (
        "db6463a099f7db95d6fe20a7c743350d"
    )


def test_jpeg_decoder_error_contract_held():
    """The inlined walk keeps the r12-r17 malformed-input contract:
    truncated scans and corrupt streams raise JpegFormatError (never a
    bare IndexError), and pad-bit peeks past the end stay legal."""
    rng = np.random.default_rng(180_003)
    img = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    buf = jpeg.encode_jpeg(img, quality=85, subsampling="4:2:0")
    assert jpeg.decode_jpeg(buf).shape == (16, 16, 3)
    # tail truncation: the walk decodes zero pad bits, then the block-end
    # consumed > n_bits check fires ("entropy segment exhausted")
    with pytest.raises(jpeg.JpegFormatError):
        jpeg.decode_jpeg(buf[:-9])
    # mid-scan truncation: deeper failures wrap as JpegFormatError, never
    # escape as bare IndexError
    with pytest.raises(jpeg.JpegFormatError):
        jpeg.decode_jpeg(buf[: len(buf) // 2])
