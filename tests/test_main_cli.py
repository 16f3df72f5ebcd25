"""The `main.py` CLI end to end: source dispatch through `load_frames`,
the three written branches, and the printed counters (uav/main.py:175-179's
final report), checked against the detector run on the driver."""

import re

from uav_streamprocessor_spark import main as cli
from uav_streamprocessor_spark.config import PipelineConfig
from uav_streamprocessor_spark.operators.pixel import StubDetector, letterbox_array


def _run(capsys, tmp_path, source, interval):
    # --cpus 8 matches the test session's shuffle partitions, so the
    # CLI's get_spark reuses that session without changing its conf
    assert cli.main([
        "--source", source, "--output-dir", str(tmp_path / "out"),
        "--keyframe-interval", str(interval), "--cpus", "8",
    ]) == 0
    line = capsys.readouterr().out.strip().splitlines()[-1]
    return {k: int(v) for k, v in re.findall(r"(frames|keyframes|detections)=(\d+)", line)}


def _detections(images) -> int:
    cfg = PipelineConfig()
    det = StubDetector(cfg.confidence, cfg.classes)
    return sum(len(det.detect(letterbox_array(img, cfg.target_resolution))) for img in images)


def test_cli_synthetic_source(spark, capsys, tmp_path):
    from uav_streamprocessor_spark.operators.pixel import decode_image, make_test_image

    got = _run(capsys, tmp_path, "synthetic://cam0?frames=31&w=64&h=36&seed=5", 30)
    # the synthetic source draws frame i from seed * 100003 + i
    keyframes = [decode_image(make_test_image(5 * 100003 + i, 36, 64)) for i in (0, 30)]
    expected = _detections(keyframes)
    assert expected > 0  # seed chosen so the detector fires
    assert got == {"frames": 31, "keyframes": 2, "detections": expected}


def test_cli_mjpeg_avi_source(spark, capsys, tmp_path):
    from uav_streamprocessor_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from uav_streamprocessor_spark.operators.pixel import decode_image, make_test_image
    from uav_streamprocessor_spark.sources.avi import FOURCC_MJPG, write_avi

    jpegs = [
        encode_jpeg(decode_image(make_test_image(s, 36, 64)), quality=85, subsampling="4:2:0")
        for s in (1, 4)
    ]
    path = write_avi(str(tmp_path / "cam1.avi"), jpegs, fps=25.0, fourcc=FOURCC_MJPG,
                     width=64, height=36)
    got = _run(capsys, tmp_path, path, 1)
    expected = _detections(decode_jpeg(b) for b in jpegs)
    assert expected > 0  # seeds chosen so the detector fires
    assert got == {"frames": 2, "keyframes": 2, "detections": expected}
