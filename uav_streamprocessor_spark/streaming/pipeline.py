"""Streaming transforms (SURVEY.md §2.2 streaming rows; §7 M4).

Same column expressions as the batch twins in operators/events_ops.py and
operators/uav_core.py, applied to readStream DataFrames — plus the
streaming-only pieces: watermarks (late-data policy the reference lacks,
frame_reader.py:184-190 just drops the stream), streaming dedup, and an
applyInPandasWithState stateful counter (the principled form of the
reference's driver-side mutable counters, uav/main.py:90-91).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from uav_streamprocessor_spark.config import DEFAULT_CONFIG, PipelineConfig
from uav_streamprocessor_spark.operators.uav_core import keyframes


def windowed_event_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Tumbling event-time window with watermark: late rows beyond the
    delay are dropped (append mode emits a window once finalized)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "n_events",
        )
    )


def session_event_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Session windows on the stream — the same session_window operator
    the batch twin uses (merging sessions across micro-batches is engine
    state)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.col("user_id"), F.session_window("ts", gap).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start_epoch"),
            "n_events",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup with bounded state: duplicates arriving
    within the watermark horizon are dropped; state for keys older than
    the horizon is evicted (the unbounded-state version would OOM a real
    cluster)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


_COUNTER_STATE_SCHEMA = "total long, keyframes long"
_COUNTER_OUT_SCHEMA = (
    "camera_id string, total_frames long, keyframes long"
)


def stateful_frame_counters(
    frames: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """A1 as explicit streaming state: per-camera running totals via
    applyInPandasWithState — the distributed, checkpointed form of the
    reference's mutable driver counters (uav/main.py:90-91,141). Emits the
    updated totals each micro-batch."""
    interval = cfg.keyframe_interval

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        total, kf = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            total += len(pdf)
            kf += int((pdf["frame_number"] % interval == 0).sum())
        state.update((total, kf))
        yield pd.DataFrame(
            {"camera_id": [key[0]], "total_frames": [total], "keyframes": [kf]}
        )

    return frames.groupBy("camera_id").applyInPandasWithState(
        update,
        outputStructType=_COUNTER_OUT_SCHEMA,
        stateStructType=_COUNTER_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_static_enriched_keyframes(
    frames_stream: DataFrame,
    camera_dim: DataFrame,
    cfg: PipelineConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Stream-static join: live keyframes enriched with a static camera
    dimension (location, model, calibration). Needs NO streaming state —
    the static side is planned per micro-batch and broadcast to
    executors, so dimension updates between batches are picked up and
    nothing accumulates. The stateless complement to the stream-stream
    join below."""
    return keyframes(frames_stream, cfg).join(
        F.broadcast(camera_dim), "camera_id"
    )


def stream_stream_frame_detection_join(
    frames: DataFrame,
    detections: DataFrame,
    max_skew: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join: a live frame stream joined with a live
    detection stream on (camera_id, frame ts) with watermarks on BOTH
    sides plus a bounded event-time range condition — the two constraints
    Structured Streaming needs to evict join state (otherwise both sides
    buffer forever; the reference never faces this because its loop is
    synchronous, uav/main.py:125-134).

    Input schemas: frames(camera_id, frame_number, frame_ts),
    detections(camera_id, frame_number, det_ts, class_name, confidence);
    det_ts may trail frame_ts by up to `max_skew` (detector latency)."""
    f = frames.withWatermark("frame_ts", watermark).alias("f")
    d = detections.withWatermark("det_ts", watermark).alias("d")
    return f.join(
        d,
        F.expr(
            f"""
            f.camera_id = d.camera_id AND
            f.frame_number = d.frame_number AND
            d.det_ts >= f.frame_ts AND
            d.det_ts <= f.frame_ts + interval {max_skew}
            """
        ),
    ).select(
        "f.camera_id",
        "f.frame_number",
        "f.frame_ts",
        "d.class_name",
        "d.confidence",
    )


TWS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("camera_id", T.StringType()),
        T.StructField("total_frames", T.LongType()),
        T.StructField("max_frame", T.LongType()),
        T.StructField("out_of_order", T.LongType()),
    ]
)
TWS_STATE_SCHEMA = T.StructType(
    [
        T.StructField("total", T.LongType()),
        T.StructField("max_frame", T.LongType()),
        T.StructField("ooo", T.LongType()),
    ]
)


def _make_camera_stats_processor():
    """Build the StatefulProcessor class for tws_camera_stats.

    Deferred class creation: importing StatefulProcessor is always safe,
    but RUNNING transformWithStateInPandas needs google.protobuf in the
    Python worker (the state-server wire protocol) — absent in this
    container, so the end-to-end path is gated like the codecs; the
    per-batch logic is unit-tested against a fake handle
    (tests/test_streaming.py::test_tws_processor_logic)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class CameraStatsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("camera_stats", TWS_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            total, max_frame, ooo = (
                self._state.get() if self._state.exists() else (0, -1, 0)
            )
            for pdf in rows:
                fn = pdf["frame_number"]
                # a frame is out-of-order iff below the max of everything
                # that arrived before it — including prior batches, so the
                # batch-local cummax is floored at the carried max
                running_max = (
                    fn.cummax().clip(lower=max_frame).shift(1, fill_value=max_frame)
                )
                ooo += int((fn < running_max).sum())
                total += len(pdf)
                max_frame = max(max_frame, int(fn.max()))
            self._state.update((total, max_frame, ooo))
            yield pd.DataFrame(
                {
                    "camera_id": [key[0]],
                    "total_frames": [total],
                    "max_frame": [max_frame],
                    "out_of_order": [ooo],
                }
            )

        def close(self) -> None:
            pass

    return CameraStatsProcessor


def tws_camera_stats(frames: DataFrame) -> DataFrame:
    """A1 on the Spark 4 arbitrary-state API: per-camera running totals,
    max frame seen, and OUT-OF-ORDER arrivals (frame_number below the max
    already seen) via transformWithStateInPandas + ValueState.

    The applyInPandasWithState twin above carries the whole state as one
    opaque tuple; this is the forward-looking form — named state
    variables, schema'd, independently evolvable, and (with RocksDB state
    store) spillable per variable. Out-of-order detection is exactly the
    per-camera ordering concern the reference's synchronous loop never
    faces but a partitioned ingest must track (K1 re-sorts per batch; this
    op MEASURES how disordered the arrival actually is)."""
    cls = _make_camera_stats_processor()
    return frames.groupBy("camera_id").transformWithStateInPandas(
        statefulProcessor=cls(),
        outputStructType=TWS_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
