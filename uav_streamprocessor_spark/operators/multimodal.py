"""Multimodal column plumbing (north-star extension).

Images/audio/video ride DataFrames as opaque `binary` columns with typed
metadata structs. Decode for real codecs is stubbed (no image/audio libs
in this container — NotImplementedError behind a capability gate); the
Spark-side plumbing — schema, batch shape, mapInPandas signatures,
partition strategy — is real and tested with the raw-tensor codec from
operators/pixel.py.

Scale notes: binary payloads are the dominant bytes at 100 TB. Rules
applied here: (1) metadata-only projections never touch the binary column
(parquet column pruning keeps payload I/O at zero); (2) filters run on
metadata BEFORE any decode UDF; (3) payloads are never shuffle keys.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from uav_streamprocessor_spark.operators.partitioning import spread_scan
from uav_streamprocessor_spark.operators.pixel import decode_image, encode_image

def decode_real_media(payload: bytes, mime: str) -> np.ndarray:
    """Real-codec decode. r12: baseline JPEG decodes for REAL through the
    engine's pure-numpy codec (operators/jpeg.py) — no native library
    needed; other image/audio/video codecs stay behind the capability
    gate until a native library is present."""
    if mime in ("image/jpeg", "image/jpg"):
        from uav_streamprocessor_spark.operators.jpeg import decode_jpeg

        return decode_jpeg(payload)
    raise NotImplementedError(
        f"no codec for {mime!r} in this container (baseline JPEG decodes "
        "via operators/jpeg.py; raw-tensor codec in operators/pixel.py "
        "is the test path for other media)"
    )


def media_metadata_stats(media: DataFrame) -> DataFrame:
    """Metadata-only projection — verify with .explain() that ReadSchema
    excludes `payload`."""
    return (
        media.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.when(F.col("payload").isNull(), 0).otherwise(1)).alias("with_payload"),
            F.avg("width").alias("avg_width"),
        )
    )


def extract_image_features(media: DataFrame) -> DataFrame:
    """Feature extraction over image payloads via mapInPandas: mean/std
    channel intensities + downsampled 4x4 luma fingerprint. Batch shape:
    Arrow record batches; decode happens once per row inside the worker.

    The fingerprint is emitted as a JSON string (16 values rounded to 6
    decimals), not ArrayType — downstream canonicalization/hashing layers
    (including the driver's pandas-based value hash) require atomic column
    types, and a JSON string round-trips losslessly for consumers that
    need the vector back (from_json / json.loads)."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("mean_intensity", T.DoubleType(), True),
            T.StructField("std_intensity", T.DoubleType(), True),
            T.StructField("luma_fingerprint", T.StringType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json
        import math

        for pdf in batches:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                if buf is None:
                    rows.append((mid, None, None, None))
                    continue
                img = decode_image(bytes(buf)).astype(np.int64)
                # exact integer moments (r13 promotion): mean/std derive
                # from BIGINT-exact S and SS with a fixed expression
                # order, so DuckDB reproduces the doubles bit-for-bit
                n = img.size
                s = int(img.sum())
                ss = int((img * img).sum())
                mean = s / n
                # m*m, not m**2: float.__pow__ routes through libm pow()
                # which can differ from plain multiplication by an ulp
                std = math.sqrt(ss / n - mean * mean)
                # fingerprint: 4x4 grid of integer luma3 block SUMS —
                # lossless, engine-portable; divide by 3*block_px for
                # the old block-mean view
                luma3 = img.sum(axis=2)
                h, w = luma3.shape
                fp = luma3[: h - h % 4, : w - w % 4] \
                    .reshape(4, h // 4, 4, w // 4).sum(axis=(1, 3))
                fp_json = json.dumps([int(v) for v in fp.flatten()])
                rows.append((mid, mean, std, fp_json))
            yield pd.DataFrame(
                rows, columns=["media_id", "mean_intensity", "std_intensity",
                               "luma_fingerprint"]
            )

    return (
        media.filter(F.col("media_type") == "image")
        .select("media_id", "payload")
        .mapInPandas(run, schema=out_schema)
    )


def resize_images(media: DataFrame, target: int = 64) -> DataFrame:
    """Batch resize (square nearest-neighbor) — the thumbnail/preprocess
    path. Returns media_id + resized payload."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                if buf is None:
                    out.append((mid, None))
                    continue
                img = decode_image(bytes(buf))
                h, w = img.shape[:2]
                ys = (np.arange(target) * h // target).clip(0, h - 1)
                xs = (np.arange(target) * w // target).clip(0, w - 1)
                out.append((mid, encode_image(img[ys][:, xs])))
            yield pd.DataFrame(out, columns=["media_id", "payload"])

    return (
        media.filter(F.col("media_type") == "image")
        .select("media_id", "payload")
        .mapInPandas(run, schema=out_schema)
    )


def extract_audio_features(media: DataFrame, sample_rate: int = 16000) -> DataFrame:
    """Audio feature extraction over raw PCM payloads (int16 little-
    endian mono). Unlike image/video, raw PCM needs NO codec — this is a
    real decode path, not a stub: np.frombuffer → duration, RMS, peak,
    zero-crossing rate. Compressed formats (mp3/ogg) would route through
    `decode_real_media` when codecs exist; the Spark-side shape (Arrow
    batches, metadata-first filtering, payload never a shuffle key) is
    identical either way."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_samples", T.LongType(), True),
            T.StructField("duration_s", T.DoubleType(), True),
            T.StructField("rms", T.DoubleType(), True),
            T.StructField("peak", T.IntegerType(), True),
            T.StructField("zero_crossing_rate", T.DoubleType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def r6(x: float) -> float:
            # floor(x*1e6 + 0.5)/1e6, NOT Python round(): round() is
            # half-to-even while SQL round() goes half-away — half-up is
            # identical on both engines (r13 promotion)
            return float(np.floor(x * 1e6 + 0.5) / 1e6)

        for pdf in batches:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                if buf is None:
                    rows.append((mid, None, None, None, None, None))
                    continue
                pcm = np.frombuffer(bytes(buf), dtype="<i2").astype(np.int64)
                if pcm.size == 0:
                    rows.append((mid, 0, 0.0, 0.0, 0, 0.0))
                    continue
                zc = (
                    int(((pcm[:-1] * pcm[1:]) < 0).sum()) / (pcm.size - 1)
                    if pcm.size > 1
                    else 0.0
                )
                # rms from the BIGINT-exact sum of squares: both engines
                # compute sqrt(SS/n) on identical operands
                ss = int((pcm * pcm).sum())
                rows.append(
                    (
                        mid,
                        int(pcm.size),
                        r6(pcm.size / sample_rate),
                        r6(float(np.sqrt(ss / pcm.size))),
                        int(np.abs(pcm).max()),
                        r6(zc),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_samples", "duration_s", "rms", "peak",
                    "zero_crossing_rate",
                ],
            )

    return (
        media.filter(F.col("media_type") == "audio")
        .select("media_id", "payload")
        .mapInPandas(run, schema=out_schema)
    )


def wav_media(spark, paths: list[str]) -> DataFrame:
    """REAL WAV containers → the typed media shape (media_id,
    media_type, payload): RIFF chunk-walk + fixed-rate PCM extraction
    (sources/wav.py) inside one Arrow pass — the audio analogue of the
    codec-free AVI ingest (r16). media_id is the list position, the
    deterministic key fixtures and oracles share. Container parsing is
    header-only; payload bytes pass through verbatim, so downstream
    feature extraction sees exactly the bytes that were muxed — the
    round trip the media_wav_features oracle signs."""
    pdf = spark.createDataFrame(
        [(i, p) for i, p in enumerate(paths)], "media_id long, path string"
    )
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("media_type", T.StringType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from uav_streamprocessor_spark.sources.wav import WavFile

        for b in batches:
            rows = [
                (int(m), "audio", WavFile(p).samples_bytes())
                for m, p in zip(b["media_id"], b["path"])
            ]
            yield pd.DataFrame(
                rows, columns=["media_id", "media_type", "payload"]
            )

    return pdf.mapInPandas(run, schema=out_schema)


def audio_vad(
    media: DataFrame,
    window_samples: int = 400,
    ss_threshold: int = 400_000_000,
) -> DataFrame:
    """Windowed-energy voice-activity gate (r16) — the audio-curation
    step speech-data pipelines run before transcription/training:
    split each PCM16 clip into fixed windows (400 samples = 25 ms at
    16 kHz), mark a window active when its BIGINT-exact sum of squares
    clears the threshold, and emit the per-clip activity profile. All
    integer arithmetic until the final ratio round, so the DuckDB
    oracle replays every verdict bit-for-bit from regenerated samples.

    The default threshold separates by ~350×: uniform int16 noise
    measures window SS ≈ 1.4e11 (400 · E[v²] ≈ 400 · 65536²/12) while
    digital silence is exactly 0 — an integer compare with no boundary
    exposure. Real speech/noise floors calibrate the threshold per
    corpus; the SHAPE (map-only Arrow pass, bounded per-clip output,
    payload never shuffles) is the production one."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("n_windows", T.LongType(), True),
            T.StructField("n_active", T.LongType(), True),
            T.StructField("speech_ratio", T.DoubleType(), True),
            T.StructField("max_window_ss", T.LongType(), True),
        ]
    )
    w, thr = window_samples, ss_threshold

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def r6(x: float) -> float:
            return float(np.floor(x * 1e6 + 0.5) / 1e6)

        for pdf in batches:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                if buf is None:
                    rows.append((mid, None, None, None, None))
                    continue
                pcm = np.frombuffer(bytes(buf), dtype="<i2").astype(np.int64)
                n_win = pcm.size // w
                if n_win == 0:
                    rows.append((mid, 0, 0, None, None))
                    continue
                ss = (pcm[: n_win * w].reshape(n_win, w) ** 2).sum(axis=1)
                active = int((ss > thr).sum())
                rows.append(
                    (mid, n_win, active, r6(active / n_win), int(ss.max()))
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_windows", "n_active",
                    "speech_ratio", "max_window_ss",
                ],
            )

    return (
        media.filter(F.col("media_type") == "audio")
        .select("media_id", "payload")
        .mapInPandas(run, schema=out_schema)
    )


def frame_sample_video(media: DataFrame, every_n: int = 30) -> DataFrame:
    """Video frame sampling contract: for real codecs this demuxes and
    keeps every Nth frame (the decimation F1 applied inside the container);
    with the raw codec a 'video' is a vertical stack of frames. Output one
    row per sampled frame."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_index", T.IntegerType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, buf, dur in zip(pdf["media_id"], pdf["payload"], pdf["duration_ms"]):
                if buf is None:
                    continue
                stack = decode_image(bytes(buf))
                n_frames = max(int(dur or 0) // 1000, 1)
                fh = stack.shape[0] // n_frames
                if fh == 0:
                    continue
                for i in range(0, n_frames, every_n):
                    rows.append((mid, i, encode_image(stack[i * fh : (i + 1) * fh])))
            yield pd.DataFrame(rows, columns=["media_id", "frame_index", "payload"])

    return media.filter(F.col("media_type") == "video") \
        .select("media_id", "payload", "duration_ms") \
        .mapInPandas(run, schema=out_schema)


def _payload_fingerprints(
    frames: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Reduce binary image payloads to exact integer content moments
    (n_bytes, sum, sum-of-squares over the decoded uint8 tensor) — the
    media_image_features S/SS recipe applied to a payload-producing
    operator's OUTPUT, which is what lets media_frame_samples /
    media_resized_thumbs carry full DuckDB oracles (r14 promotion,
    VERDICT r13 #4): the oracle regenerates the md5-derived source
    pixels and reproduces every moment bit-for-bit, so it checks frame
    CONTENT — including the encode_image→decode_image round trip this
    pass re-runs — not just row counts. BIGINT-exact, no float anywhere.

    Scale: one extra Arrow crossing of the payload column per audited
    batch; at 100 TB this is the audit lane, not the serving lane — the
    payload-emitting operator itself stays single-pass."""
    out_fields = [
        T.StructField(c, T.LongType() if c == "media_id" else T.IntegerType(),
                      False)
        for c in key_cols
    ] + [
        T.StructField("height", T.IntegerType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("payload_sum", T.LongType(), True),
        T.StructField("payload_ss", T.LongType(), True),
    ]
    out_schema = T.StructType(out_fields)
    cols = key_cols + ["height", "width", "payload_sum", "payload_ss"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for tup in zip(*[pdf[c] for c in key_cols], pdf["payload"]):
                *keys, buf = tup
                keys = [int(k) for k in keys]
                if buf is None:
                    rows.append((*keys, None, None, None, None))
                    continue
                img = decode_image(bytes(buf)).astype(np.int64)
                rows.append(
                    (*keys, int(img.shape[0]), int(img.shape[1]),
                     int(img.sum()), int((img * img).sum()))
                )
            yield pd.DataFrame(rows, columns=cols)

    return frames.mapInPandas(run, schema=out_schema)


def frame_sample_fingerprints(media: DataFrame, every_n: int = 30) -> DataFrame:
    """frame_sample_video + exact integer content moments per sampled
    frame — the oracled registry surface for the sampling operator (the
    binary-payload form stays the API for consumers that need frames)."""
    sampled = frame_sample_video(media, every_n=every_n)
    return _payload_fingerprints(
        sampled, ["media_id", "frame_index"]
    ).orderBy("media_id", "frame_index")


def resized_thumb_fingerprints(media: DataFrame, target: int = 64) -> DataFrame:
    """resize_images + exact integer content moments per thumbnail — the
    oracled registry surface for the resize operator (nearest-neighbor
    sampling means every output byte is a source byte, so DuckDB replays
    the moments from the md5 corpus with a stride-2 coordinate filter)."""
    thumbs = resize_images(media, target=target)
    return _payload_fingerprints(thumbs, ["media_id"]).orderBy("media_id")


# ---------------------------------------------------------------------------
# Image perceptual-hash near-dup (aHash + banded hamming join)
# ---------------------------------------------------------------------------

# same banding argument as text SimHash (operators/dedup.py): 64 bits in
# 4 bands of 16 — any pair with hamming <= 3 agrees on >= 1 full band.
_AHASH_BANDS = 4
_AHASH_BAND_BITS = 64 // _AHASH_BANDS


def _md5_noise(key: str, n_bytes: int) -> np.ndarray:
    """Deterministic pseudo-random bytes from chained md5 digests —
    hashlib on the engine side, replayable as md5(key || ':' || chunk)
    hex parsing in DuckDB (the r13 ahash/phash oracle promotions).
    Statistically noise-like for hashing purposes, like the RandomState
    bytes it replaced, but engine-portable."""
    import hashlib

    buf = b"".join(
        hashlib.md5(f"{key}:{i}".encode()).digest()
        for i in range(-(-n_bytes // 16))
    )
    return np.frombuffer(buf[:n_bytes], dtype=np.uint8)


def documents_as_media(spark, side: int = 32, group: int = 8) -> DataFrame:
    """Deterministic thumbnail corpus keyed 1:1 to `documents` rows, with
    PLANTED near-dup structure: docs sharing `doc_id // group` share a
    base image (md5-derived noise, _md5_noise — SQL-replayable, which is
    what lets media_ahash_neardups/media_phash_neardups carry full
    DuckDB oracles since r13); each doc then gets one pixel perturbed by
    its own id. Within a group images differ in <= 2 pixels (aHash
    hamming ~0-2); across groups they are unrelated noise (hamming ~32).
    This is the ground truth the aHash recall/precision test keys on
    (the text corpus itself has no exact-dup texts to reuse). Stand-in
    for a real thumbnail corpus; the plumbing — binary payload, Arrow
    batches, metadata-before-decode — is the production shape."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("dup_group", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                g = did // group
                arr = (
                    _md5_noise(str(g), side * side * 3)
                    .reshape(side, side, 3)
                    .copy()
                )
                arr[(did * 7) % side, (did * 13) % side] ^= np.uint8(
                    (did % 3) + 1
                )
                rows.append((did, g, encode_image(arr)))
            yield pd.DataFrame(rows, columns=["media_id", "dup_group", "payload"])

    return (
        spark.table("documents")
        .select("doc_id")
        .mapInPandas(run, schema=out_schema)
    )


def image_ahash(media: DataFrame) -> DataFrame:
    """64-bit average hash per image: decode -> luma -> 8x8 block means ->
    bit_i = block_i > mean(blocks), packed little-endian into a signed
    int64 (Spark LongType; bit ops below are sign-agnostic). One Arrow
    crossing; payload never leaves the worker.

    Computed in EXACT integer arithmetic (r13): bit_i compares
    64*block_sum(luma3) > total_sum(luma3) with luma3 = r+g+b — the
    same predicate as the mean form (both sides scale by 1/(48*64)) but
    with no float rounding, so the hash is engine-portable and the
    DuckDB oracle reproduces it bit-for-bit."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("ahash", T.LongType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                img = decode_image(bytes(buf)).astype(np.int64)
                luma3 = img.sum(axis=2)  # r+g+b, exact integers
                h, w = luma3.shape
                bs = luma3[: h - h % 8, : w - w % 8] \
                    .reshape(8, h // 8, 8, w // 8).sum(axis=(1, 3))
                bits = (bs.flatten() * 64 > bs.sum()).astype(np.uint64)
                v = int((bits << np.arange(64, dtype=np.uint64)).sum())
                rows.append((mid, v - (1 << 64) if v >= (1 << 63) else v))
            yield pd.DataFrame(rows, columns=["media_id", "ahash"])

    return media.select("media_id", "payload").mapInPandas(run, schema=out_schema)


def _banded_hamming_pairs(
    hashed: DataFrame, hash_col: str, max_hamming: int
) -> DataFrame:
    """Banded 4x16 group-and-emit-pairs over a 64-bit hash column + exact
    bit_count(a ^ b) verify — recall 1.0 for hamming <= 3 by pigeonhole
    (4 bands, <= 3 flipped bits -> one band untouched; same scheme and
    proof as text SimHash, operators/dedup.py). Bucket rows carry only
    (media_id, hash, 16-bit band key), and the decode+hash UDF exists
    ONCE in the plan — the r5 dedup rewrite applied here too (the old
    self-join instantiated the UDF subtree on both sides and leaned on
    runtime exchange reuse; see dedup._bucket_pairs)."""
    from uav_streamprocessor_spark.operators.dedup import _bucket_pairs

    mask = (1 << _AHASH_BAND_BITS) - 1
    bands = hashed.select(
        F.col("media_id").alias("doc_id"),
        F.col(hash_col).alias("h"),
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.shiftrightunsigned(hash_col, b * _AHASH_BAND_BITS)
                    .bitwiseAND(F.lit(mask))
                    .alias("band_val"),
                )
                for b in range(_AHASH_BANDS)
            ])
        ).alias("bb"),
    ).select("doc_id", "h", "bb.band", "bb.band_val")
    cands = (
        _bucket_pairs(
            bands, ["band", "band_val"], F.struct(F.col("doc_id"), F.col("h"))
        )
        .select(
            F.col("p.a.doc_id").alias("media_id_a"),
            F.col("p.b.doc_id").alias("media_id_b"),
            F.col("p.a.h").alias("hash_a"),
            F.col("p.b.h").alias("hash_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.expr("hash_a ^ hash_b"))
    return (
        cands.select("media_id_a", "media_id_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def image_ahash_neardups(spark, max_hamming: int = 3) -> DataFrame:
    """Image near-duplicates: aHash over the document-derived media
    corpus, banded candidate self-join, exact hamming verify
    (_banded_hamming_pairs).

    Scale: the image corpus is the dominant bytes; payloads are read
    once by the hash UDF and never shuffled."""
    hashed = image_ahash(documents_as_media(spark)).repartition(
        spark.sparkContext.defaultParallelism
    )
    return _banded_hamming_pairs(hashed, "ahash", max_hamming)


_PHASH_SIDE = 32  # luma resolution fed to the DCT
_PHASH_LOW = 8  # low-frequency block kept (8x8 = 64 bits)


def _dct_basis(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis matrix (n x n) — numpy-only (no scipy in
    the container); coefficients C = B @ luma @ B.T. Entries are snapped
    to the 1e-9 grid (r13): libm cos() may differ by an ulp between
    numpy and DuckDB, and the snap makes both engines build the SAME
    basis doubles, which is half of what lets the pHash replay in SQL
    (the other half is the 1e-6 coefficient snap in image_phash).
    r14 (ADVICE r13): the snap uses the half-up idiom
    floor(x·1e9 + 0.5)/1e9 on BOTH engines — np.round is half-to-even
    while SQL round is half-away, so only the measure-zero
    ulp-at-grid-boundary case remains (numpy SIMD cos vs DuckDB
    std::cos bit-identity is NOT assumed, only agreement to within
    the 0.5e-9 guard band)."""
    k = np.arange(n)[:, None].astype(np.float64)
    i = np.arange(n)[None, :].astype(np.float64)
    basis = np.cos(np.pi * (2 * i + 1) * k / (2 * n)) * np.sqrt(2.0 / n)
    basis[0] /= np.sqrt(2.0)
    return np.floor(basis * 1e9 + 0.5) / 1e9


def image_phash(media: DataFrame) -> DataFrame:
    """64-bit perceptual hash (pHash): decode -> luma -> 2D DCT-II ->
    keep the top-left 8x8 low-frequency block -> bit_i = coeff_i >
    median(block). Versus aHash (block means), the DCT concentrates
    energy so the hash survives brightness/contrast shifts and light
    noise — the robustness tier real thumbnail dedup uses. Same packing
    contract as image_ahash (signed int64, little-endian bit order);
    the median split fixes exactly 32 ones per hash (64 distinct
    coeffs), so hamming distances are comparable across images."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("phash", T.LongType(), False),
        ]
    )
    basis = _dct_basis(_PHASH_SIDE)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, buf in zip(pdf["media_id"], pdf["payload"]):
                img = decode_image(bytes(buf)).astype(np.float64)
                # luma3 = r+g+b (exact integers in double): the >median
                # predicate is scale-invariant, and integer inputs keep
                # the only float error in the basis products (r13)
                luma = img.sum(axis=2)
                h, w = luma.shape
                if (h, w) != (_PHASH_SIDE, _PHASH_SIDE):
                    # block-mean resample to the DCT grid (exact for
                    # integer multiples; the synthetic corpus is 32x32)
                    bh, bw = h // _PHASH_SIDE, w // _PHASH_SIDE
                    luma = luma[: bh * _PHASH_SIDE, : bw * _PHASH_SIDE] \
                        .reshape(_PHASH_SIDE, bh, _PHASH_SIDE, bw).mean(axis=(1, 3))
                coeffs = (basis @ luma @ basis.T)[:_PHASH_LOW, :_PHASH_LOW].flatten()
                # snap to the 1e-6 grid: summation-order drift between a
                # numpy matmul and a SQL sum is ~1e-11 on these O(1e4)
                # coefficients — far inside the 5e-7 boundary — so both
                # engines land on identical doubles and the median/>
                # comparisons below are engine-exact
                coeffs = np.round(coeffs * 1e6) / 1e6
                bits = (coeffs > np.median(coeffs)).astype(np.uint64)
                v = int((bits << np.arange(64, dtype=np.uint64)).sum())
                rows.append((mid, v - (1 << 64) if v >= (1 << 63) else v))
            yield pd.DataFrame(rows, columns=["media_id", "phash"])

    return media.select("media_id", "payload").mapInPandas(run, schema=out_schema)


def image_phash_neardups(spark, max_hamming: int = 3) -> DataFrame:
    """Image near-duplicates on the perceptual (DCT) hash — same banded
    join as aHash, different signature. The perturbation controls in
    tests prove the hash behaves like a perceptual hash: a global
    brightness shift changes only the DC coefficient (which stays the
    max, so no bit flips — hamming 0), while scrambling pixel content
    flips ~half the bits; and the max_hamming knob is monotone."""
    hashed = image_phash(documents_as_media(spark)).repartition(
        spark.sparkContext.defaultParallelism
    )
    return _banded_hamming_pairs(hashed, "phash", max_hamming)


def video_scene_changes(media: DataFrame, threshold: float = 12.0) -> DataFrame:
    """Scene-change detection over sampled video frames: mean absolute
    luma difference between consecutive frames of a video; rows where the
    diff exceeds `threshold` are cut points. Decode happens once per
    video inside the worker (the frame stack is one payload); only
    (media_id, frame_index, diff) leave the UDF — at scale the payload
    column never reaches a shuffle. Reference analogue: the keyframe
    decimation family (uav/main.py:116) generalized from every-Nth to
    content-aware."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("frame_index", T.IntegerType(), False),
            T.StructField("mean_abs_diff", T.DoubleType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, buf, dur in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                if buf is None:
                    continue
                stack = decode_image(bytes(buf)).astype(np.int64)
                n_frames = max(int(dur or 0) // 1000, 1)
                fh = stack.shape[0] // n_frames
                if fh == 0:
                    continue
                # integer luma3 (r+g+b): |Δmean-luma| = |Δluma3|/3, so
                # the diff statistic is BIGINT-exact and engine-portable
                # (r13 promotion); d = T / (3 * pixels) on both engines
                luma3 = stack.sum(axis=2)
                frames = [
                    luma3[i * fh : (i + 1) * fh] for i in range(n_frames)
                ]
                for i in range(1, n_frames):
                    t_abs = int(np.abs(frames[i] - frames[i - 1]).sum())
                    d = t_abs / (3.0 * frames[i].size)
                    if d > threshold:
                        rows.append(
                            (mid, i, float(np.floor(d * 1e6 + 0.5) / 1e6))
                        )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_index", "mean_abs_diff"]
            )

    return (
        media.filter(F.col("media_type") == "video")
        .select("media_id", "payload", "duration_ms")
        .mapInPandas(run, schema=out_schema)
    )


def corpus_media(spark) -> DataFrame:
    """Deterministic TYPED media corpus keyed 1:1 to `documents` rows —
    the multimodal twin of documents_as_media with all three modalities,
    so the audio/video operators register as driver queries instead of
    living only on test-local fixtures. doc_id % 3 picks the modality:

    - image: 32×32 md5-noise RGB (_md5_noise key 'i<doc_id>')
    - video: 8 stacked 16×16 frames (one raw-codec payload, 8 s) whose
      SECOND HALF repeats frame 3 — a planted static segment, so
      scene-change output has both cut points and quiet spans; the four
      distinct frames are md5-noise (key 'v<doc_id>')
    - audio: 0.5 s of PCM16 sine at 200 + (doc_id % 200) Hz

    Everything derives from doc_id arithmetic + md5 bytes / closed-form
    sine — stable payloads across runs AND replayable in SQL, which is
    what lets media_image_features / media_audio_features /
    media_scene_changes carry full DuckDB oracles since r13. Payloads
    build inside mapInPandas (Arrow batches, metadata-first schema); at
    100 TB this table is a real lakehouse table and the generators
    disappear — the operator plumbing is what's being exercised."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("media_type", T.StringType(), False),
            T.StructField("mime", T.StringType(), False),
            T.StructField("width", T.IntegerType(), True),
            T.StructField("height", T.IntegerType(), True),
            T.StructField("duration_ms", T.LongType(), True),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for did in pdf["doc_id"]:
                did = int(did)
                kind = did % 3
                if kind == 0:
                    arr = _md5_noise(f"i{did}", 32 * 32 * 3).reshape(32, 32, 3)
                    rows.append(
                        (did, "image", "raw", 32, 32, None, encode_image(arr))
                    )
                elif kind == 1:
                    noise = _md5_noise(f"v{did}", 4 * 16 * 16 * 3)
                    frames = list(noise.reshape(4, 16, 16, 3))
                    frames += [frames[3]] * 4  # planted static back half
                    stack = np.concatenate(frames, axis=0)
                    rows.append(
                        (did, "video", "raw", 16, 16, 8_000,
                         encode_image(stack))
                    )
                else:
                    freq = 200.0 + (did % 200)
                    t = np.arange(8000) / 16000.0
                    # snap the sine product to the coarse 2^-10 binary
                    # grid (half-up) BEFORE the int16 trunc (r14, ADVICE
                    # r13): numpy SIMD sin and DuckDB std::sin are NOT
                    # assumed bit-identical — an ulp of disagreement now
                    # only matters if 10000*sin lands within that ulp of
                    # a 1/2048 grid boundary (measure-zero), instead of
                    # within an ulp of ANY integer (the old trunc cliff)
                    raw = 10000.0 * np.sin(2 * np.pi * freq * t)
                    pcm = np.trunc(
                        np.floor(raw * 1024.0 + 0.5) / 1024.0
                    ).astype("<i2")
                    rows.append(
                        (did, "audio", "pcm16", None, None, 500,
                         pcm.tobytes())
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "media_type", "mime", "width", "height",
                    "duration_ms", "payload",
                ],
            )

    # spread the id spine before generation: documents is one small
    # parquet split, and without this every payload generator (and every
    # downstream per-payload UDF) would run on a single core — the ids
    # are the only bytes shuffled. r18: spread_scan instead of a literal
    # repartition(32) — same plan on the single-split fixture, a no-op
    # (not a 32-way cap) on split-up production inputs.
    return spread_scan(
        spark.table("documents").select("doc_id"), "doc_id"
    ).mapInPandas(run, out_schema)


def jpeg_roundtrip_audit(
    media: DataFrame, quality: int = 95, psnr_floor: float = 30.0
) -> DataFrame:
    """Audit the engine's pure-numpy baseline JPEG codec (operators/
    jpeg.py) against every image in the media corpus: encode at
    `quality` (4:4:4), decode back, and assert the round trip preserved
    the shape and cleared the PSNR floor — the accuracy-contract form
    (sketch-bound pattern): the registered projection is the per-image
    boolean verdict table, so a DuckDB oracle signs the whole
    encode→entropy→decode pipeline as a constant-true table derived
    relationally from `documents`.

    The floor is calibrated, not hoped: worst-case PSNR over the seeded
    32×32 noise population at q=95 measures 35.6 dB (noise is JPEG's
    adversarial content; real photos land far higher), so 30.0 leaves
    >5 dB margin while still failing loudly on any codec regression —
    a quantizer off by one step class-wide costs more than that.

    Scale: metadata filter (media_type='image') runs BEFORE decode, the
    payload column is read only inside the Arrow-batched mapInPandas,
    and each worker touches one bounded image at a time. The explicit
    repartition matters: the corpus derives from ONE small parquet file
    (one input split), and without it the whole codec pass would run on
    a single core — measured 48s → ~3s at sf0.1 on local[16]. The
    shuffle it buys is id+payload rows, KBs each."""
    from uav_streamprocessor_spark.operators.jpeg import decode_jpeg, encode_jpeg

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("shape_ok", T.BooleanType(), False),
            T.StructField("psnr_ok", T.BooleanType(), False),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                src = decode_image(bytes(payload))
                out = decode_jpeg(
                    encode_jpeg(src, quality=quality, subsampling="4:4:4")
                )
                shape_ok = out.shape == src.shape
                mse = float(
                    np.mean(
                        (src.astype(np.float64) - out.astype(np.float64)) ** 2
                    )
                )
                psnr = 99.0 if mse == 0 else 10 * np.log10(255.0**2 / mse)
                rows.append((int(mid), bool(shape_ok), bool(psnr >= psnr_floor)))
            yield pd.DataFrame(
                rows, columns=["media_id", "shape_ok", "psnr_ok"]
            )

    # r18: the exchange STAYS, but parametrized (defaultParallelism, not
    # a literal 32). Removing it via spread_scan (a no-op here, since
    # corpus_media already spreads the spine) was A/B-measured ~7% SLOWER
    # at sf0.1 (2.82 vs 2.62 median-of-5, ADJUDICATION_r18): fusing
    # payload generation and the codec pass into one stage loses to
    # re-balancing the image third of the corpus across fresh tasks —
    # the shuffled bytes are KB-sized JPEG sources, cheap against ~1 ms
    # of codec per image.
    return (
        media.filter(F.col("media_type") == "image")
        .select("media_id", "payload")
        .repartition(
            media.sparkSession.sparkContext.defaultParallelism, "media_id"
        )
        .mapInPandas(run, out_schema)
        .orderBy("media_id")
    )
