"""End-to-end pipeline plans (SURVEY.md §3: the reference driver loop as
one declarative DAG).

The reference wires S4 → K1 (record every frame) and F1 → T1 → T2 → K2
(process keyframes) in a sequential per-frame loop (uav/main.py:109-141).
Here both branches hang off one lazily-built DataFrame; Catalyst executes
each sink's pruned subplan — the record branch never pays for detection,
and the keyframe filter sits below the pixel UDFs exactly as the
reference hand-ordered it (main.py:116-139; SURVEY.md §4.1 notes Catalyst
won't push filters through nondeterministic-marked UDFs, so construction
order does it).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uav_streamprocessor_spark.config import DEFAULT_CONFIG, PipelineConfig
from uav_streamprocessor_spark.operators.pixel import (
    explode_detections,
    letterbox_and_detect,
)
from uav_streamprocessor_spark.operators.uav_core import keyframes, wire_confidence


def process_keyframes(
    frames_with_images: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """The F1 → T1 → T2 branch: decimate, then fused letterbox+detect
    (one decode/encode per image — see operators/pixel.letterbox_and_detect).
    Returns frames + detections array (pre-explode)."""
    kf = keyframes(frames_with_images, cfg)
    return letterbox_and_detect(kf, cfg)


def keyframe_detections_flat(
    frames_with_images: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Flat detections table from the pixel path (the engine's T2 output
    in SURVEY.md §1.3 shape)."""
    return explode_detections(process_keyframes(frames_with_images, cfg))


def sender_payloads(
    frames_with_images: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """K2 FrameSender payload (uav/frame_processing.py:221-248): JPEG part
    + JSON metadata per keyframe. The HTTP POST itself is a foreachBatch
    sink (streaming/sinks.py); this is the exact projection it sends."""
    processed = process_keyframes(frames_with_images, cfg)
    det = F.transform(
        "detections",
        lambda d: F.struct(
            d["class_name"].alias("class_name"),
            d["class_id"].alias("class_id"),
            wire_confidence(d["confidence"]).alias("confidence"),
            F.array(d["x_min"], d["y_min"], d["x_max"], d["y_max"]).alias("box"),
        ),
    )
    return processed.select(
        "camera_id",
        "frame_number",
        F.col("image").alias("frame_jpeg"),
        F.to_json(
            F.struct(F.col("frame_number"), det.alias("detections"))
        ).alias("metadata"),
    )


def recorder_rows(
    frames_with_images: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """K1 FrameSaver branch: every frame, in order, sized like the first
    frame of its camera (the reference skips size-mismatched frames,
    frame_processing.py:172-179 — here a windowed first() comparison)."""
    from pyspark.sql import Window

    w = Window.partitionBy("camera_id").orderBy("frame_number")
    first_w = F.first("width").over(w)
    first_h = F.first("height").over(w)
    eff_fps = F.coalesce(F.nullif(F.col("fps"), F.lit(0.0)), F.lit(cfg.fallback_fps))
    return (
        frames_with_images.withColumn("keep", (F.col("width") == first_w) & (F.col("height") == first_h))
        .filter(F.col("keep"))
        .select("camera_id", "frame_number", eff_fps.alias("record_fps"), "image")
    )
