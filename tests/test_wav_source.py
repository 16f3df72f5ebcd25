"""Codec-free RIFF/WAVE container I/O (r16): the real audio-container
lane, symmetric with the AVI video lane. The reference is video-only;
this is the training-data-pipeline audio ingest (SURVEY.md §2's
multimodal plane) running un-gated because PCM16 needs no codec."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from uav_streamprocessor_spark.operators.multimodal import _md5_noise, wav_media
from uav_streamprocessor_spark.sources.wav import PCM_FORMAT, WavFile, write_wav


def _noise_pcm(tag: str, n_samples: int) -> bytes:
    return _md5_noise(tag, n_samples * 2).tobytes()


def test_wav_roundtrip_byte_exact(tmp_path):
    """write_wav → WavFile returns the EXACT payload bytes — the
    container layer is pure header arithmetic."""
    pcm = _noise_pcm("t0", 1000)
    p = tmp_path / "a.wav"
    write_wav(p, pcm, sample_rate=16000)
    w = WavFile(p)
    assert (w.audio_format, w.channels, w.bits_per_sample) == (PCM_FORMAT, 1, 16)
    assert (w.sample_rate, w.block_align, w.byte_rate) == (16000, 2, 32000)
    assert w.n_samples == 1000
    assert w.samples_bytes() == pcm


def test_wav_sample_range_seek(tmp_path):
    """samples_bytes(start, end) is pure offset arithmetic — the
    sample-range partition access pattern (AVI framesPerPartition
    applied to audio)."""
    pcm = _noise_pcm("t1", 500)
    p = tmp_path / "b.wav"
    write_wav(p, pcm)
    w = WavFile(p)
    assert w.samples_bytes(100, 200) == pcm[200:400]
    assert w.samples_bytes(450, 9999) == pcm[900:]
    assert w.samples_bytes(500, 600) == b""
    assert w.samples_bytes(-5, 2) == pcm[:4]


def test_wav_chunk_walk_not_fixed_offset(tmp_path):
    """Real files carry LIST/fact chunks between fmt and data — the
    reader must WALK chunks, not assume the canonical 44-byte layout."""
    pcm = _noise_pcm("t2", 64)
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    extra = b"LIST" + struct.pack("<I", 10) + b"INFOhello!"
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + extra
        + b"data" + struct.pack("<I", len(pcm)) + pcm
    )
    raw = b"RIFF" + struct.pack("<I", len(body)) + body
    p = tmp_path / "c.wav"
    p.write_bytes(raw)
    w = WavFile(p)
    assert w.sample_rate == 8000
    assert w.samples_bytes() == pcm


def test_wav_odd_length_data_padded(tmp_path):
    """8-bit mono with an odd byte count exercises the RIFF even-length
    pad on write and the size-clamped read."""
    pcm = bytes(range(7))
    p = tmp_path / "d.wav"
    write_wav(p, pcm, sample_rate=8000, bits_per_sample=8)
    raw = p.read_bytes()
    assert len(raw) % 2 == 0  # padded
    w = WavFile(p)
    assert w.n_samples == 7 and w.samples_bytes() == pcm


def test_wav_non_pcm_gated(tmp_path):
    """audio_format != PCM raises the capability-gate error (the AVI
    codec-seam contract: a soundfile-backed decoder drops in)."""
    fmt = struct.pack("<HHIIHH", 3, 1, 16000, 64000, 4, 32)  # IEEE float
    body = (
        b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", 8) + b"\x00" * 8
    )
    p = tmp_path / "f.wav"
    p.write_bytes(b"RIFF" + struct.pack("<I", len(body)) + body)
    with pytest.raises(NotImplementedError, match="PCM"):
        WavFile(p)


def test_wav_rejects_non_wave(tmp_path):
    p = tmp_path / "x.wav"
    p.write_bytes(b"RIFFxxxxAVI LIST")
    with pytest.raises(ValueError, match="RIFF/WAVE"):
        WavFile(p)
    p2 = tmp_path / "y.wav"
    p2.write_bytes(b"nope")
    with pytest.raises(ValueError):
        WavFile(p2)


@settings(max_examples=40, deadline=None)
@given(
    n_samples=st.integers(0, 700),
    rate=st.sampled_from([8000, 16000, 22050, 44100]),
    channels=st.integers(1, 2),
    seed=st.integers(0, 2**31 - 1),
    a=st.integers(0, 800),
    b=st.integers(0, 800),
)
def test_wav_roundtrip_property(tmp_path_factory, n_samples, rate, channels, seed, a, b):
    """PROPERTY: for any PCM16 payload, rate, and channel count, the
    write→parse→slice pipeline returns exactly the bytes written —
    header arithmetic (sizes, block align, data offset) can never
    corrupt or shift a sample, and every [a, b) slice equals the
    corresponding slice of the source bytes."""
    import numpy as np

    tmp = tmp_path_factory.mktemp("wavprop")
    rng = np.random.RandomState(seed)
    block = channels * 2
    pcm = rng.randint(0, 256, size=n_samples * block, dtype=np.int64).astype(
        np.uint8
    ).tobytes()
    p = tmp / "p.wav"
    write_wav(p, pcm, sample_rate=rate, channels=channels)
    w = WavFile(p)
    assert (w.n_samples, w.sample_rate, w.channels) == (
        n_samples, rate, channels
    )
    assert w.samples_bytes() == pcm
    lo, hi = min(a, b), max(a, b)
    assert w.samples_bytes(lo, hi) == pcm[lo * block : hi * block]


@settings(max_examples=40, deadline=None)
@given(
    frames=st.integers(1, 200),
    fpp=st.integers(1, 50),
    wanted=st.sets(st.integers(-10, 250), max_size=30),
)
def test_sparse_partition_plan_property(frames, fpp, wanted):
    """PROPERTY: for any frame filter, the sparse plan's partitions
    cover EXACTLY the in-range wanted frames, once each, in order, and
    every chunk respects framesPerPartition — the planner can neither
    drop, duplicate, nor resurrect a frame."""
    from uav_streamprocessor_spark.sources.video_source import (
        VideoBatchReader,
    )
    from pyspark.sql.datasource import In

    reader = VideoBatchReader(
        {
            "path": f"synthetic://c?frames={frames}&w=8&h=8",
            "framesPerPartition": str(fpp),
        }
    )
    list(reader.pushFilters([In(("frame_number",), tuple(wanted))]))
    parts = reader.partitions()
    covered = [f for p in parts for f in p.frames]
    assert covered == sorted(f for f in wanted if 0 <= f < frames)
    assert all(len(p.frames) <= fpp for p in parts)


def test_wav_media_features_match_direct_numpy(spark, tmp_path):
    """End-to-end: WAV files → wav_media → extract_audio_features must
    equal a direct numpy recompute on the pre-mux PCM — the container
    round trip is feature-transparent (what the registry oracle signs
    via the md5 replay)."""
    from uav_streamprocessor_spark.operators.multimodal import (
        extract_audio_features,
    )

    paths = []
    pcms = []
    for k in range(3):
        pcm = _noise_pcm(f"e{k}", 2000)
        p = tmp_path / f"e{k}.wav"
        write_wav(p, pcm)
        paths.append(str(p))
        pcms.append(pcm)
    out = {
        r["media_id"]: r
        for r in extract_audio_features(wav_media(spark, paths)).collect()
    }
    for k, pcm in enumerate(pcms):
        s = np.frombuffer(pcm, dtype="<i2").astype(np.int64)
        r = out[k]
        assert r["n_samples"] == 2000
        assert r["peak"] == int(np.abs(s).max())
        exp_rms = float(
            np.floor(np.sqrt(int((s * s).sum()) / s.size) * 1e6 + 0.5) / 1e6
        )
        assert r["rms"] == exp_rms
        exp_zcr = float(
            np.floor(
                (int(((s[:-1] * s[1:]) < 0).sum()) / (s.size - 1)) * 1e6 + 0.5
            ) / 1e6
        )
        assert r["zero_crossing_rate"] == exp_zcr


def test_audio_vad_planted_cadence(spark, tmp_path):
    """The VAD gate must recover the PLANTED silence cadence exactly:
    a clip with every 3rd 400-sample window zeroed reads 1/3 inactive,
    noise windows clear the threshold by ~350x, silent windows are 0."""
    from uav_streamprocessor_spark.operators.multimodal import audio_vad

    pcm = np.frombuffer(_noise_pcm("vt0", 4800), dtype="<i2").astype(
        np.int16
    ).copy()
    for w in range(12):
        if w % 3 == 0:
            pcm[w * 400 : (w + 1) * 400] = 0
    p = tmp_path / "vad.wav"
    write_wav(p, pcm.tobytes())
    r = audio_vad(wav_media(spark, [str(p)])).collect()[0]
    assert (r["n_windows"], r["n_active"]) == (12, 8)
    assert r["speech_ratio"] == pytest.approx(8 / 12, abs=1e-6)
    assert r["max_window_ss"] > 400_000_000 * 100  # noise ≫ threshold


def test_audio_vad_truncates_tail_window(spark, tmp_path):
    """A partial trailing window (not a full 400 samples) is dropped —
    the count semantics the oracle's i//400 grouping... would disagree
    on, so the fixture keeps whole windows and this pins the operator's
    truncation for arbitrary real clips."""
    from uav_streamprocessor_spark.operators.multimodal import audio_vad

    pcm = _noise_pcm("vt1", 450)  # 1 full window + 50-sample tail
    p = tmp_path / "tail.wav"
    write_wav(p, pcm)
    r = audio_vad(wav_media(spark, [str(p)])).collect()[0]
    assert r["n_windows"] == 1 and r["n_active"] == 1


def test_registry_wav_features_green(spark):
    """The registered query builds its fixture and produces the full
    4-row feature table (oracle equality runs in the parity sweep /
    driver window)."""
    from uav_streamprocessor_spark import registry

    rows = registry.queries()["media_wav_features"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert len(rows) == 4
    assert all(r["n_samples"] == 8000 and r["duration_s"] == 0.5 for r in rows)
    vad = sorted(
        registry.queries()["media_audio_vad"](
            spark, "/root/testdata/sf0.001"
        ).collect(),
        key=lambda r: r["media_id"],
    )
    # the fixture's planted cadences: file k zeroes every (k+2)-th of
    # 40 windows → 20/14/10/8 silent
    assert [r["n_active"] for r in vad] == [20, 26, 30, 32]
