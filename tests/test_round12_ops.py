"""Round-12 additions: the ADVICE r11 hardening fixes (reserved camera-id
rejection, degenerate-letterbox clamp, exact-regime guard, remux
degradation flags) plus the new oracled promotions' single-engine
semantics.
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import SF_SMALL

from uav_streamprocessor_spark import registry


def _q(name, spark, sf=SF_SMALL):
    return registry.queries()[name](spark, sf)


def test_reserved_camera_id_rejected_at_writer_construction(tmp_path):
    """ADVICE r11 sinks.py: a camera id ending in '.bNNNNNN' would make
    reassemble_segments swallow its own deliverable on a second pass —
    both writers must refuse it up front."""
    from uav_streamprocessor_spark.streaming.sinks import (
        _JsonlCameraWriter,
        _check_camera_id,
    )

    with pytest.raises(ValueError, match="reserved segment suffix"):
        _JsonlCameraWriter(tmp_path, "camA.b000001", 0, 64, 36, 25.0)
    # dotted ids that do NOT match the segment tail stay legal
    assert _check_camera_id("10.0.0.5") == "10.0.0.5"
    assert _check_camera_id("flight.2024") == "flight.2024"
    # only a TRAILING .bNNNNNN is reserved
    assert _check_camera_id("camA.b000001.continued") == "camA.b000001.continued"
    w = _JsonlCameraWriter(tmp_path, "10.0.0.5", 0, 64, 36, 25.0)
    w.close()
    assert (tmp_path / "10.0.0.5.b000000.jsonl").exists()


def test_letterbox_degenerate_aspect_clamps_to_one_pixel():
    """ADVICE r11 pixel.py: an extreme aspect ratio floors one side to 0;
    the clamp keeps both resize kernels (cv2 INTER_AREA vs nearest) on
    the same valid letterboxed output instead of diverging via the cv2
    error fallback."""
    from uav_streamprocessor_spark.operators.pixel import letterbox_array

    img = np.full((2000, 1, 3), 255, dtype=np.uint8)  # 2000:1 aspect
    out = letterbox_array(img, target=640)
    assert out.shape == (640, 640, 3)
    # content column present (clamped to 1 px wide), centered padding
    assert out.sum() > 0
    # explicit resize kernel sees a >=1 size on both axes
    seen = {}

    def spy(im, size):
        seen["size"] = size
        h, w = size[1], size[0]
        return np.zeros((h, w, 3), dtype=np.uint8)

    letterbox_array(img, target=640, resize=spy)
    assert seen["size"][0] >= 1 and seen["size"][1] >= 1


def test_ivfpq_recall_bound_margin(spark):
    """emb_ivfpq_recall_bound's contract premise: at the degenerate
    high-fidelity settings (m=dim scalar quantization, ksub=64,
    n_train=512, full probe) per-query recall@5 vs exact kNN is >= 0.6
    at tested SFs — the registered 0.4 floor keeps a >=1-hit margin.
    Pins the margin so a fixture or PQ change that erodes it fails
    loudly here rather than as an oracle mismatch."""
    from uav_streamprocessor_spark.operators.similarity import (
        ivfpq_recall_audit,
    )

    registry.register_uav_views(spark, SF_SMALL)
    rows = ivfpq_recall_audit(spark, recall_floor=0.6).collect()
    assert len(rows) == 5
    assert all(r["within_bound"] for r in rows)  # margin: floor is 0.4
    assert all(r["n_exact"] == 5 for r in rows)


def test_topk_rollup_exact_regime_guard(spark):
    """ADVICE r11 registry: the guard passes at test SFs (margin ~587 vs
    4096) and raises ExactRegimeViolation — not a confusing oracle hash
    mismatch — when maxItemsTracked is forced under the data's distinct
    counts."""
    from uav_streamprocessor_spark.operators.sketches import (
        ExactRegimeViolation,
        topk_users_rollup,
    )

    registry.register_uav_views(spark, SF_SMALL)
    # in-regime: guard is silent and output is produced
    assert topk_users_rollup(spark, guard_exact_regime=True).count() > 0
    # forced out-of-regime: loud precondition error with the margin
    with pytest.raises(ExactRegimeViolation, match="maxItemsTracked = 1"):
        topk_users_rollup(spark, max_items=1, guard_exact_regime=True)
