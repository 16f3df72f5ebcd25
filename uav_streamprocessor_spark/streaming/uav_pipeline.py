"""The reference's main loop as a live Structured Streaming query
(SURVEY.md §3.1 → streaming form).

The reference runs one blocking loop: read frame → save → if keyframe:
resize → detect → send (uav/main.py:109-141). Streamed, this is a single
readStream DAG with two sinks driven by the micro-batch engine:

  uav_video stream source
    ├── record branch  → OrderedRecorderSink (K1)
    └── filter(% N)    → letterbox UDF → detect (mapInPandas) → payloads
                       → HttpSenderSink (K2)

Both sinks are checkpointed foreachBatch started by
sinks.start_foreach_batch (at-least-once; the reference is at-most-once
on both paths). Replay-safety comes from the sinks themselves: the
recorder writes one segment per micro-batch, so a replayed batch
replaces its own segment, while the sender re-POSTs a replayed batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from uav_streamprocessor_spark.config import DEFAULT_CONFIG, PipelineConfig
from uav_streamprocessor_spark.plans.pipeline import sender_payloads
from uav_streamprocessor_spark.streaming.sinks import (
    DEFAULT_FMT,
    HttpSenderSink,
    OrderedRecorderSink,
    reassemble_segments,
    recorder_columns,
    start_foreach_batch,
)


def stream_frames(spark: SparkSession, source_spec: str, frames_per_batch: int = 30) -> DataFrame:
    from uav_streamprocessor_spark.sources import video_source

    video_source.register(spark)
    return (
        spark.readStream.format("uav_video")
        .option("path", source_spec)
        .option("framesPerBatch", str(frames_per_batch))
        .load()
    )


def run_streaming_pipeline(
    spark: SparkSession,
    source_spec: str,
    out_dir: str,
    checkpoint_dir: str,
    sender: HttpSenderSink,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    frames_per_batch: int = 30,
    record_fmt: str = DEFAULT_FMT,
) -> dict:
    """Run both branches with availableNow triggers (complete drain of
    the source — latestOffset reports EOF, so no frames are truncated
    regardless of frames_per_batch, which only sets partition
    granularity; a real deployment uses processingTime triggers).
    After the drain, per-micro-batch recorder segments are reassembled
    into the reference's single-file-per-camera deliverable
    (uav/frame_processing.py:142-159). Returns sink counters — the
    reference's shutdown report (uav/main.py:175-179)."""
    frames = stream_frames(spark, source_spec, frames_per_batch)
    recorder = OrderedRecorderSink(out_dir, cfg, fmt=record_fmt)
    queries = [
        start_foreach_batch(
            recorder_rows_stream(frames, cfg, fmt=record_fmt),
            recorder,
            f"{checkpoint_dir}/record",
        ),
        start_foreach_batch(
            sender_payloads(frames, cfg), sender, f"{checkpoint_dir}/send"
        ),
    ]
    for q in queries:
        q.awaitTermination()
    return {
        "segments": reassemble_segments(out_dir, fmt=record_fmt),
        "sent": sender.sent,
        "send_errors": sender.errors,
        "skipped_frames": recorder.skipped,
    }


def recorder_rows_stream(
    frames: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
    fmt: str = DEFAULT_FMT,
) -> DataFrame:
    """K1 row prep for streams: the batch recorder_rows uses a window to
    latch first-frame config (plans/pipeline.py); on a stream that state
    lives in the sink's per-camera `_latch/{cam}.json` files — mirroring
    the reference's lazy writer init, frame_processing.py:147-159), so the
    stream side just projects the columns the fmt's writer reads
    (sinks.recorder_columns)."""
    return frames.select(*recorder_columns(fmt))
