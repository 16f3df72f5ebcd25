"""The reference's main loop as a live Structured Streaming query
(SURVEY.md §3.1 → streaming form).

The reference runs one blocking loop: read frame → save → if keyframe:
resize → detect → send (uav/main.py:109-141). Streamed, this is one
query over one uav_video source read, under one checkpoint, whose
foreachBatch function fans each micro-batch out to both sinks:

  uav_video stream source → foreachBatch(batch, batch_id):
    persist(batch)
    ├── filter(% N) → letterbox+detect (mapInPandas) → payloads
    │                → HttpSenderSink (K2)
    ├── every frame → OrderedRecorderSink (K1)
    └── unpersist(batch)

Send runs before record, so keyframe POSTs do not wait for the
per-camera repartition of every frame. The query is started by
sinks.start_foreach_batch (at-least-once; the reference is at-most-once
on both paths). A batch replayed after a lost commit re-runs both
sinks: the recorder writes one segment per micro-batch, so the replay
rewrites its own segments, while the sender re-POSTs its keyframes.
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
    """Run the flight as one query under an availableNow trigger, with
    checkpoint_dir as its checkpoint. availableNow drains the source
    completely (latestOffset reports EOF, so no frames are truncated
    regardless of frames_per_batch, which only sets partition
    granularity; a real deployment uses processingTime triggers).
    After the drain, per-micro-batch recorder segments are reassembled
    into the reference's single-file-per-camera deliverable
    (uav/frame_processing.py:142-159). Returns sink counters — the
    reference's shutdown report (uav/main.py:175-179)."""
    recorder = OrderedRecorderSink(out_dir, cfg, fmt=record_fmt)

    def send_and_record(batch: DataFrame, batch_id: int) -> None:
        batch.persist()
        try:
            sender(sender_payloads(batch, cfg), batch_id)
            recorder(batch, batch_id)
        finally:
            batch.unpersist()

    start_foreach_batch(
        stream_frames(spark, source_spec, frames_per_batch),
        send_and_record,
        checkpoint_dir,
    ).awaitTermination()
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
