"""Engine configuration mirroring the reference CLI surface.

The reference parses 7 parameters with argparse (uav/main.py:15-71):
source, target_resolution (640), output video path, checkpoint
(yolov8n.pt), target URL, keyframe_interval (30), confidence (0.4),
classes (['car','person']); the single validation rule is
keyframe_interval > 0 (uav/main.py:69-70).
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    """Defaults match the reference CLI defaults (uav/main.py:15-71)."""

    # every-Nth-frame decimation (uav/main.py:50-54, used at main.py:116)
    keyframe_interval: int = 30
    # detection confidence threshold (uav/main.py:56-60, frame_processing.py:64)
    confidence: float = 0.4
    # letterbox target square side (uav/main.py:25-30, frame_processing.py:21)
    target_resolution: int = 640
    # detection class whitelist (uav/main.py:62-66, frame_processing.py:63)
    classes: tuple[str, ...] = ("car", "person")
    # fallback recording fps when source fps is null/0 (frame_processing.py:134,152)
    fallback_fps: float = 25.0
    # HTTP POST timeout seconds (frame_processing.py:205,251)
    http_timeout_s: float = 10.0

    def __post_init__(self) -> None:
        # the reference's one validation rule (uav/main.py:69-70)
        if self.keyframe_interval <= 0:
            raise ValueError("keyframe_interval must be a positive integer")
        if not 0.0 <= self.confidence <= 1.0:
            raise ValueError("confidence must be in [0, 1]")
        if self.target_resolution <= 0:
            raise ValueError("target_resolution must be positive")


DEFAULT_CONFIG = PipelineConfig()
