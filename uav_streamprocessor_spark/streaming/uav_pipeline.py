"""The reference's main loop as a live Structured Streaming query
(SURVEY.md §3.1 → streaming form).

The reference runs one blocking loop: read frame → save → if keyframe:
resize → detect → send (uav/main.py:109-141). Streamed, this is a single
readStream DAG with two sinks driven by the micro-batch engine:

  uav_video stream source
    ├── record branch  → OrderedRecorderSink (K1)
    └── filter(% N)    → letterbox UDF → detect (mapInPandas) → payloads
                       → HttpSenderSink (K2)

Both sinks are checkpointed foreachBatch (at-least-once; the reference is
at-most-once on both paths).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from uav_streamprocessor_spark.config import DEFAULT_CONFIG, PipelineConfig
from uav_streamprocessor_spark.plans.pipeline import sender_payloads
from uav_streamprocessor_spark.streaming.sinks import (
    DEFAULT_FMT,
    HttpSenderSink,
    OrderedRecorderSink,
    recorder_columns,
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
    cfg: PipelineConfig = DEFAULT_CONFIG,
    sender: HttpSenderSink | None = None,
    frames_per_batch: int = 30,
    timeout_s: float = 120.0,
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

    rec_q = (
        recorder_rows_stream(frames, cfg, fmt=record_fmt)
        .writeStream.foreachBatch(recorder)
        .option("checkpointLocation", f"{checkpoint_dir}/record")
        .trigger(availableNow=True)
        .start()
    )
    send_q = (
        sender_payloads(frames, cfg)
        .writeStream.foreachBatch(sender or HttpSenderSink("http://localhost:9"))
        .option("checkpointLocation", f"{checkpoint_dir}/send")
        .trigger(availableNow=True)
        .start()
    )
    rec_q.awaitTermination(timeout_s)
    send_q.awaitTermination(timeout_s)
    from uav_streamprocessor_spark.streaming.sinks import reassemble_segments

    reassembled = reassemble_segments(out_dir, fmt=record_fmt)
    snd = sender
    return {
        "recorded_batches": True,
        "segments": reassembled,
        "sent": getattr(snd, "sent", None),
        "send_errors": getattr(snd, "errors", None),
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
