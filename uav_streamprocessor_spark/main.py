"""CLI entry point — the engine's analogue of the reference driver
(uav/main.py:15-179): parse config, wire source → record branch +
keyframe-process branch, run, report counters.

    python -m uav_streamprocessor_spark.main \
        --source "synthetic://cam0?frames=300&w=64&h=36" \
        --output-dir /tmp/uav_out --keyframe-interval 30 \
        --confidence 0.4 --classes car person

The reference's per-frame loop becomes two sinks: recorded frames (K1 →
parquet partitioned by camera, every frame from `load_frames`) and
processed keyframes (T1→T2→K2 payloads → parquet + metadata JSONL, from
`load_keyframes`, so a video source decodes only the keyframes for
them). Counters (A1) come from the written data, not driver-side
mutation.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

from pyspark.sql import functions as F


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    # flags mirror uav/main.py:15-71 (names Spark-idiomatic)
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--source", required=True,
                   help="synthetic:// or .avi spec(s), image dir, or frames parquet")
    p.add_argument("--output-dir", required=True)
    p.add_argument("--target-resolution", type=int, default=640)
    p.add_argument("--keyframe-interval", type=int, default=30)
    p.add_argument("--confidence", type=float, default=0.4)
    p.add_argument("--classes", nargs="+", default=["car", "person"])
    p.add_argument("--target-url", default=None,
                   help="optional HTTP sink URL (http(s)://)")
    p.add_argument("--cpus", type=int, default=8)
    args = p.parse_args(argv)
    if args.keyframe_interval <= 0:  # uav/main.py:69-70
        p.error("--keyframe-interval must be a positive integer")
    return args


def main(argv: list[str] | None = None) -> int:
    from uav_streamprocessor_spark.config import PipelineConfig
    from uav_streamprocessor_spark.operators.uav_core import frame_counters
    from uav_streamprocessor_spark.plans.pipeline import (
        keyframe_detections_flat,
        recorder_rows,
        sender_payloads,
    )
    from uav_streamprocessor_spark.session import get_spark
    from uav_streamprocessor_spark.sources.readers import load_frames, load_keyframes

    args = parse_args(argv)
    cfg = PipelineConfig(
        keyframe_interval=args.keyframe_interval,
        confidence=args.confidence,
        target_resolution=args.target_resolution,
        classes=tuple(args.classes),
    )
    t0 = time.time()
    spark = get_spark(app_name="uav_pipeline", master=f"local[{args.cpus}]",
                      shuffle_partitions=args.cpus)
    frames = load_frames(spark, args.source)
    # the keyframe branches read only the keyframes: a video source
    # decodes no other frame for them
    kf = load_keyframes(spark, args.source, cfg)

    out = Path(args.output_dir)
    # K1 record branch: every frame, partitioned by camera for pruned scans
    recorder_rows(frames, cfg).write.mode("overwrite").partitionBy(
        "camera_id"
    ).parquet(str(out / "recorded"))

    # F1→T1→T2 branch: flat detections table
    det = keyframe_detections_flat(kf, cfg)
    det.write.mode("overwrite").partitionBy("camera_id").parquet(
        str(out / "detections")
    )

    # K2 branch: sender payloads (POSTed if --target-url, else materialized)
    payloads = sender_payloads(kf, cfg)
    if args.target_url:
        from uav_streamprocessor_spark.streaming.sinks import HttpSenderSink

        sink = HttpSenderSink(args.target_url, cfg)
        sink(payloads, 0)
        print(f"sent={sink.sent} errors={sink.errors}")
    else:
        payloads.select("camera_id", "frame_number", "metadata").write.mode(
            "overwrite"
        ).json(str(out / "payloads"))

    # A1 counters from written data (uav/main.py:175-179's final report)
    per_cam = frame_counters(spark.read.parquet(str(out / "recorded")), cfg).collect()
    total = sum(r["total_frames"] for r in per_cam)
    n_kf = sum(r["keyframes"] for r in per_cam)
    ndet = spark.read.parquet(str(out / "detections")).filter(
        F.col("class_name").isNotNull()
    ).count()
    dt = time.time() - t0
    print(
        f"frames={total} keyframes={n_kf} detections={ndet} "
        f"elapsed={dt:.1f}s fps={total / dt:.1f}"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
