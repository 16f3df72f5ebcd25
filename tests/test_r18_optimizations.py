"""Round-18 optimization pins: internals changed for speed must stay
bit-identical to the shapes they replaced.

JPEG codec (operators/jpeg.py): the entropy encoder is vectorized
(whole-array numpy symbol assembly + one-bincount bit packing) and the
decoder walk uses combined code+value LUTs with inlined bit-reader
state. Neither may move a single BIT: the encoder's output feeds the
disk MJPG fixtures (cache keys must not rotate) and the decoder's
output feeds md5-signed pixel moments. The scalar encoder path is
retained as the parity reference and overflow fallback; these tests
hold the two paths equal and pin golden digests so any future edit
that drifts a byte fails loudly.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from uav_streamprocessor_spark.operators import jpeg


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
    """The vectorized entropy scan is byte-identical to the retained
    scalar walk over randomized coefficient matrices (dense, sparse,
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
            sca = jpeg._entropy_scan_scalar(
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
        jpeg._entropy_scan_scalar(qz, is_chroma, comp_ids, per_mcu, 4, 0)


def test_jpeg_entropy_vec_overflow_falls_back():
    """Coefficients beyond the bit-length LUT bound (impossible from
    8-bit input, possible for a hostile caller) route to the scalar
    path BEFORE any LUT gather — and such magnitudes have no Huffman
    code anyway, so both paths fail with the same loud KeyError."""
    rng = np.random.default_rng(180_002)
    qz, is_chroma, comp_ids, per_mcu = _rand_stream(rng, 4, 1, -2, 3)
    qz[2, 5] = 1 << 13  # >= len(_BL_LUT)
    with pytest.raises(KeyError):
        jpeg._entropy_scan(qz, is_chroma, comp_ids, per_mcu, 4, 0)
    with pytest.raises(KeyError):
        jpeg._entropy_scan_scalar(qz, is_chroma, comp_ids, per_mcu, 4, 0)


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
