"""Pixel UDF layer (T1/T2/T3) and the end-to-end pipeline plan on
synthetic in-memory frames with raw-tensor images."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from uav_streamprocessor_spark.config import PipelineConfig
from uav_streamprocessor_spark.operators.pixel import (
    StubDetector,
    decode_image,
    encode_image,
    letterbox_array,
    make_test_image,
)
from uav_streamprocessor_spark.operators.uav_core import wire_confidence
from uav_streamprocessor_spark.plans.pipeline import (
    keyframe_detections_flat,
    process_keyframes,
    recorder_rows,
    sender_payloads,
)


@pytest.fixture(scope="module")
def frames_df(spark):
    rows = []
    for cam, (w, h) in enumerate([(64, 36), (48, 64)]):
        for fn in range(0, 91):
            rows.append(
                (f"cam{cam}", fn, w, h, 25.0 if fn % 10 else None,
                 make_test_image(cam * 1000 + fn, h, w))
            )
    return spark.createDataFrame(
        rows, "camera_id string, frame_number long, width int, height int, "
              "fps double, image binary"
    ).repartition(4)


def test_codec_roundtrip():
    img = np.arange(36 * 64 * 3, dtype=np.uint8).reshape(36, 64, 3)
    assert np.array_equal(decode_image(encode_image(img)), img)


def test_letterbox_geometry_matches_reference_semantics():
    # reference math (uav/frame_processing.py:29-44) on a landscape frame
    img = np.full((36, 64, 3), 7, dtype=np.uint8)
    out = letterbox_array(img, target=640)
    assert out.shape == (640, 640, 3)
    # scale = 10 → new 640x360 → pad_top = (640-360)//2 = 140
    assert (out[140] != 0).any() and (out[139] == 0).all()
    assert (out[499] != 0).any() and (out[500] == 0).all()


def test_letterbox_resize_seam_geometry_invariant():
    """VERDICT r10 #7: the resize-kernel seam changes interpolated pixel
    VALUES only — scale, content slot, and zero padding are computed by
    letterbox_array itself, identically for any kernel."""
    img = np.arange(36 * 64 * 3, dtype=np.uint8).reshape(36, 64, 3)
    seen = {}

    def fake_resize(src, size):
        seen["size"] = size
        # constant-fill "kernel": maximally different pixel values
        return np.full((size[1], size[0], 3), 200, dtype=np.uint8)

    out_nn = letterbox_array(img, target=640)
    out_fk = letterbox_array(img, target=640, resize=fake_resize)
    assert seen["size"] == (640, 360)  # kernel got (new_w, new_h)
    assert out_fk.shape == out_nn.shape == (640, 640, 3)
    # padding identical (zero) under both kernels; content slot differs
    assert (out_fk[:140] == 0).all() and (out_nn[:140] == 0).all()
    assert (out_fk[500:] == 0).all() and (out_nn[500:] == 0).all()
    assert (out_fk[140:500] == 200).all()


def test_best_resize_presence_gated():
    """_best_resize returns None without a usable cv2 and an
    INTER_AREA-backed callable where one ships — checked by whichever
    branch this container exercises. Keyed on _best_resize's OWN result,
    not find_spec: test_codec_seam's addPyFile fake makes `import cv2`
    succeed session-wide, and that partial stub must resolve to the
    fallback (the AttributeError guard), not a callable."""
    from uav_streamprocessor_spark.operators.pixel import _best_resize

    rz = _best_resize()
    if rz is None:
        # legitimate only when cv2 is absent or is a partial stub
        # without the resize surface
        try:
            import cv2
        except ImportError:
            pass
        else:
            assert not (hasattr(cv2, "resize") and hasattr(cv2, "INTER_AREA"))
    else:
        import cv2

        img = np.arange(36 * 64 * 3, dtype=np.uint8).reshape(36, 64, 3)
        got = rz(img, (32, 18))
        assert got.shape == (18, 32, 3)
        want = cv2.resize(img, (32, 18), interpolation=cv2.INTER_AREA)
        assert np.array_equal(got, want)
        # full letterbox: geometry identical to nearest, values may differ
        out_cv = letterbox_array(img, target=640, resize=rz)
        out_nn = letterbox_array(img, target=640)
        assert (out_cv[:140] == 0).all() and (out_cv[500:] == 0).all()
        assert out_cv.shape == out_nn.shape


def test_stub_detector_deterministic():
    det = StubDetector(0.4, ("car", "person"))
    img = decode_image(make_test_image(5, 64, 48))
    a, b = det.detect(img), det.detect(img)
    assert a == b
    for box in a:
        assert box["confidence"] >= 0.4
        assert box["class_name"] in ("car", "person")
        assert 0 <= box["x_min"] < box["x_max"] <= 64
        assert 0 <= box["y_min"] < box["y_max"] <= 64


def test_pipeline_detections_flat(spark, frames_df):
    flat = keyframe_detections_flat(frames_df)
    rows = flat.collect()
    # only keyframes (every 30th) survive decimation
    assert {r["frame_number"] % 30 for r in rows} == {0}
    with_boxes = [r for r in rows if r["class_name"] is not None]
    assert with_boxes, "stub detector should fire on some keyframes"
    # determinism across runs
    again = keyframe_detections_flat(frames_df).collect()
    assert sorted(map(repr, rows)) == sorted(map(repr, again))


def test_sender_payloads_shape(spark, frames_df):
    pay = sender_payloads(frames_df)
    rows = pay.collect()
    assert rows
    import json

    for r in rows:
        meta = json.loads(r["metadata"])
        assert meta["frame_number"] == r["frame_number"]
        for d in meta["detections"]:
            assert set(d) == {"class_name", "class_id", "confidence", "box"}
            assert len(d["box"]) == 4


def test_wire_confidence_rounds_like_python(spark):
    """The wire confidence rounds like the reference's Python
    round(conf, 4). As a double 0.00015 lies just below the tie, so it
    rounds down; Spark's round(x, 4), which the HTTP payload used,
    HALF_UPs the decimal string "0.00015" to 0.0002."""
    vals = [0.00015, 0.12345, 0.5, 0.87654321]
    rows = (
        spark.createDataFrame(list(enumerate(vals)), "i int, c double")
        .orderBy("i")
        .select(
            wire_confidence(F.col("c")).alias("wire"),
            F.round("c", 4).alias("plain"),
        )
        .collect()
    )
    assert [r["wire"] for r in rows] == [round(v, 4) for v in vals]
    assert rows[0]["wire"] == 0.0001 and rows[0]["plain"] == 0.0002


def test_recorder_rows_fps_fallback(spark, frames_df):
    rec = recorder_rows(frames_df)
    rows = rec.collect()
    assert len(rows) == frames_df.count()  # no size mismatches in fixture
    fps_vals = {r["record_fps"] for r in rows}
    assert fps_vals == {25.0}  # null fps → 25.0 fallback


def test_detect_respects_config(spark, frames_df):
    strict = PipelineConfig(confidence=0.9, classes=("car",))
    flat = keyframe_detections_flat(frames_df, strict)
    rows = [r for r in flat.collect() if r["class_name"] is not None]
    for r in rows:
        assert r["confidence"] >= 0.9
        assert r["class_name"] == "car"
