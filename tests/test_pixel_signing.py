"""Content-signing of the pixel hot path (r16, VERDICT r15 #4).

The rows-only `uav_pixel_detections(_mjpeg)` queries get oracled twins:
`uav_pixel_moments` (exact integer moments + detection sums over the
md5-generated synthetic source — DuckDB replays decode, letterbox
geometry, zero padding, and the stub detector bit-for-bit) and
`uav_pixel_moments_mjpeg` (the accuracy-contract form over real MJPG AVI
containers, since entropy decode is not SQL-replayable). Plus the
frame_number pushdown that makes both twins decode ONLY their keyframes
(decimation pushdown — the keyframe analogue of row-group pruning).

Reference semantics signed here: letterbox (uav/frame_processing.py:29-44),
detector contract (:60-115), every-Nth decimation (uav/main.py:116).
"""

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from uav_streamprocessor_spark.operators.pixel import (
    StubDetector,
    content_signature,
    letterbox_array,
    make_md5_image,
    md5_image_array,
    roundtrip_contract,
)
from uav_streamprocessor_spark.streaming.sinks import start_memory_sink

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    from uav_streamprocessor_spark.sources.video_source import register

    register(spark)


def test_md5_image_bytes_are_the_duckdb_recipe():
    """Engine bytes must equal the md5(tag || ':' || chunk) chain the
    oracle regenerates — chunk order, truncation, and reshape."""
    arr = md5_image_array("px0:0", 6, 7)  # 126 bytes = 7.875 chunks
    manual = b"".join(
        hashlib.md5(f"px0:0:{i}".encode()).digest() for i in range(8)
    )[: 6 * 7 * 3]
    assert arr.tobytes() == manual
    assert arr.shape == (6, 7, 3)
    # and the binary-encoded form round-trips through the engine codec
    from uav_streamprocessor_spark.operators.pixel import decode_image

    assert np.array_equal(decode_image(make_md5_image("px0:0", 6, 7)), arr)


def test_frame_number_pushdown_reader_unit():
    """In/EqualTo on frame_number are consumed, intersected, and clipped
    to the source's frame count; the sparse plan covers exactly the
    surviving frames."""
    from pyspark.sql.datasource import EqualTo, In

    from uav_streamprocessor_spark.sources.video_source import (
        VideoBatchReader,
    )

    opts = {
        "path": "synthetic://camA?frames=50&w=16&h=16&seed=1",
        "framesPerPartition": "2",
    }
    reader = VideoBatchReader(opts)
    leftover = list(
        reader.pushFilters([In(("frame_number",), (0, 30, 60, 10))])
    )
    assert leftover == []
    assert reader._frame_filter == {0, 30, 60, 10}
    parts = reader.partitions()
    # 60 is out of range (frames=50) → 3 wanted frames → chunks [0,10],[30]
    assert [p.frames for p in parts] == [(0, 10), (30,)]
    got = [r[1] for p in parts for r in reader.read(p)]
    assert got == [0, 10, 30]
    # conjunct intersection, like the camera_id rule
    reader2 = VideoBatchReader(opts)
    list(
        reader2.pushFilters(
            [In(("frame_number",), (0, 10, 20)), EqualTo(("frame_number",), 10)]
        )
    )
    assert reader2._frame_filter == {10}


def test_frame_number_pushdown_sparse_plan(spark):
    """End-to-end: an IN list on frame_number prunes partitions to the
    keyframe chunks and returns the same rows as the modulo filter, which
    the reader cannot consume and so runs over the dense scan."""
    spec = "synthetic://camA?frames=95&w=32&h=32&seed=1&gen=md5"
    base = (
        spark.read.format("uav_video")
        .option("path", spec)
        .option("framesPerPartition", "30")
        .load()
    )
    pushed = base.filter(F.col("frame_number").isin([0, 30, 60, 90]))
    # 4 wanted frames, 30/partition → ONE partition instead of ceil(95/30)=4
    assert pushed.rdd.getNumPartitions() == 1
    plain = base.filter(F.col("frame_number") % 30 == 0)
    assert plain.rdd.getNumPartitions() == 4
    a = sorted(
        (r["frame_number"], bytes(r["image"])) for r in pushed.collect()
    )
    b = sorted(
        (r["frame_number"], bytes(r["image"])) for r in plain.collect()
    )
    assert a == b and len(a) == 4


def test_content_signature_matches_closed_form(spark):
    """The operator's output equals an independent closed-form recompute
    of the oracle's derivation: moments are the raw-frame moments (zero
    padding adds nothing), the detector seed is the y%16==4 / x%16==0
    subsample sum + 640*31 + 640*7, and the box sums follow the stub's
    integer walk. This is the engine-side half of what the DuckDB oracle
    replays byte-for-byte."""
    from uav_streamprocessor_spark.sources import video_source

    video_source.register(spark)
    frames = (
        spark.read.format("uav_video")
        .option("path", "synthetic://px0?frames=31&w=640&h=360&gen=md5")
        .option("framesPerPartition", "4")
        .load()
        .filter(F.col("frame_number").isin([0, 30]))
    )
    got = {r["frame_number"]: r.asDict() for r in content_signature(frames).collect()}
    assert set(got) == {0, 30}
    for fno in (0, 30):
        arr = md5_image_array(f"px0:{fno}", 360, 640).astype(np.int64)
        exp_sum, exp_ss = int(arr.sum()), int((arr * arr).sum())
        seed = int(arr[4::16, ::16].sum()) + 640 * 31 + 640 * 7
        n_dets = box_sum = conf_sum = cls_sum = 0
        for i in range(seed % 4):
            s = seed * 131 + i * 17
            if s % 1000 < 400 or s % 5 not in (0, 1):
                continue
            x_min, y_min = s % 632, (s * 3) % 632
            n_dets += 1
            box_sum += (
                x_min + y_min + min(x_min + 8 + s % 37, 640)
                + min(y_min + 8 + s % 29, 640)
            )
            conf_sum += s % 1000
            cls_sum += [2, 0, 7, 1, 16][s % 5]
        r = got[fno]
        assert (r["height"], r["width"]) == (640, 640)
        assert (r["payload_sum"], r["payload_ss"]) == (exp_sum, exp_ss)
        assert (
            r["n_dets"], r["box_coord_sum"],
            r["conf_milli_sum"], r["class_id_sum"],
        ) == (n_dets, box_sum, conf_sum, cls_sum)


def test_content_signature_detections_match_pipeline_detector():
    """The signature's detection sums must collapse EXACTLY what the
    production detector emits on the letterboxed frame — same code path
    the uav_pixel_detections query explodes."""
    arr = md5_image_array("px1:30", 360, 640)
    boxed = letterbox_array(arr, 640)
    dets = StubDetector(0.4, ("car", "person")).detect(boxed)
    # cross-check against the closed form used by the oracle
    seed = int(boxed[::16, ::16].sum()) + 640 * 31 + 640 * 7
    exp = [
        s for i in range(seed % 4)
        for s in [seed * 131 + i * 17]
        if s % 1000 >= 400 and s % 5 in (0, 1)
    ]
    assert len(dets) == len(exp)
    for b, s in zip(dets, exp):
        assert b["x_min"] == s % 632 and b["y_min"] == (s * 3) % 632
        assert round(b["confidence"] * 1000) == s % 1000


def test_content_signature_non_identity_scale(spark):
    """The operator must stay correct when letterboxing actually
    resamples (the 640x360→640x640 identity the oracle exploits is a
    fixture property, not an operator assumption): at 320x180 → scale
    2.0 nearest-neighbor upsample, the signature must equal a direct
    recompute through the SAME letterbox_array + StubDetector kernels."""
    from uav_streamprocessor_spark.sources import video_source

    video_source.register(spark)
    frames = (
        spark.read.format("uav_video")
        .option("path", "synthetic://pxs?frames=3&w=320&h=180&gen=md5")
        .option("framesPerPartition", "4")
        .load()
        .filter(F.col("frame_number") == 0)
    )
    got = content_signature(frames).collect()[0]
    arr = md5_image_array("pxs:0", 180, 320)
    boxed = letterbox_array(arr, 640).astype(np.int64)
    assert (got["payload_sum"], got["payload_ss"]) == (
        int(boxed.sum()), int((boxed * boxed).sum())
    )
    # upsampled content ≠ raw content: the moments must differ from the
    # raw-frame moments (each source byte counted ~4x), proving the
    # signature really reads the LETTERBOXED payload
    assert got["payload_sum"] != int(arr.astype(np.int64).sum())
    dets = StubDetector(0.4, ("car", "person")).detect(
        boxed.astype(np.uint8)
    )
    assert got["n_dets"] == len(dets)
    assert got["conf_milli_sum"] == sum(
        int(round(b["confidence"] * 1000)) for b in dets
    )


def test_streaming_signature_equals_batch(spark, tmp_path):
    """S3 content-exactness: the pixel content signature computed over
    availableNow micro-batches of the streaming uav_video source must
    equal the batch signature row-for-row — the stream's frame-index
    offsets slice the same decode, and the signature is deterministic,
    so stream-vs-batch equality signs the S3 lane with the same
    integer-exact surface the oracle checks in batch."""
    from uav_streamprocessor_spark.sources import video_source

    video_source.register(spark)
    spec = "synthetic://pxq?frames=31&w=640&h=360&gen=md5"
    sdf = (
        spark.readStream.format("uav_video")
        .option("path", spec)
        .option("framesPerBatch", "10")
        .load()
        .filter(F.col("frame_number") % 30 == 0)
    )
    q = start_memory_sink(
        content_signature(sdf), "px_sig_stream", tmp_path / "sig_ckpt"
    )
    q.awaitTermination(120)
    stream_rows = sorted(
        tuple(r) for r in spark.sql("SELECT * FROM px_sig_stream").collect()
    )
    batch = (
        spark.read.format("uav_video")
        .option("path", spec)
        .option("framesPerPartition", "10")
        .load()
        .filter(F.col("frame_number") % 30 == 0)
    )
    batch_rows = sorted(tuple(r) for r in content_signature(batch).collect())
    assert stream_rows == batch_rows and len(batch_rows) == 2


def test_roundtrip_contract_tamper_flips_mae(spark):
    """A payload that is NOT the md5 original for its (camera, frame) key
    must flip mae_ok (unrelated noise reads MAE ~85 against the 60.0
    bound) while shape/pad/dets stay green — the contract discriminates
    content, not just structure."""
    import pandas as pd

    good = make_md5_image("px7:0", 360, 640)
    bad = make_md5_image("px7:999", 360, 640)  # wrong tag = wrong content
    pdf = pd.DataFrame(
        {
            "camera_id": ["px7", "px7"],
            "frame_number": [0, 30],
            "width": [640, 640],
            "height": [360, 360],
            "fps": [25.0, 25.0],
            "image": [good, bad],
        }
    )
    df = spark.createDataFrame(pdf)
    rows = {r["frame_number"]: r for r in roundtrip_contract(df).collect()}
    assert rows[0]["mae_ok"] and rows[0]["shape_ok"] and rows[0]["pad_ok"]
    assert not rows[30]["mae_ok"]
    assert rows[30]["shape_ok"] and rows[30]["pad_ok"] and rows[30]["dets_ok"]


def test_registry_pixel_moments_queries_green(spark):
    """Both registered twins produce their full row sets with all-true
    contract verdicts (the oracle-equality half runs in the parity
    sweep / driver window)."""
    from uav_streamprocessor_spark import registry

    q = registry.queries()
    mom = q["uav_pixel_moments"](spark, SF_DIR).collect()
    assert len(mom) == 10
    assert all(r["payload_sum"] > 0 and r["payload_ss"] > 0 for r in mom)
    con = q["uav_pixel_moments_mjpeg"](spark, SF_DIR).collect()
    assert len(con) == 4
    for r in con:
        assert r["shape_ok"] and r["mae_ok"] and r["pad_ok"] and r["dets_ok"]
