"""Source dispatch (SURVEY.md §2 ops S1-S4).

The reference's `SourceReader` factory (uav/frame_reader.py:202-248)
dispatches on the source string: rtsp:// → StreamReader, directory →
ImageReader, file → VideoReader. The engine's `load_frames` does the same
by URI scheme, returning a batch or streaming DataFrame:

- synthetic:// spec(s) / *.avi file(s) → the `uav_video` DataSource
  (S2, frame_reader.py:116-155; sources/video_source.py)
- image directory → `binaryFile` scan + filename-order frame numbering
  (S1, frame_reader.py:55-113)
- frames parquet table → the canonical engine input (video decode is an
  edge adapter: S2's cv2.VideoCapture loop becomes an offline demux job
  writing this table)
- rtsp:// / rate:// → Structured Streaming source (S3; tests use rate)

`load_keyframes` returns only a source's keyframes (F1); on the video
sources it decodes no other frame.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from uav_streamprocessor_spark.config import DEFAULT_CONFIG, PipelineConfig
from uav_streamprocessor_spark.operators.uav_core import keyframes

# the reference's suffix whitelist (uav/frame_reader.py:63)
IMAGE_GLOB = "*.{png,jpg,jpeg,tiff,bmp}"


def read_image_dir(spark: SparkSession, path: str, recursive: bool = False) -> DataFrame:
    """S1 ImageReader: binaryFile scan ordered by the first integer in the
    filename stem (reference sort key, frame_reader.py:62-66), frame_number
    assigned by row_number (reference counter, frame_reader.py:102-104).

    Scale note: binaryFile parallelizes over files, and the numbering
    window is PARTITIONED by the containing directory (= camera/source,
    SURVEY.md §1.3's multi-camera layout) — never a global single-partition
    sort. The reference numbers globally per source, and one source is one
    directory, so per-directory numbering is the same semantics; with
    `recursive=True` a parent of per-camera directories loads in one scan,
    each camera numbering independently in parallel."""
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", IMAGE_GLOB)
        .option("recursiveFileLookup", str(recursive).lower())
        .load(path)
    )
    stem = F.regexp_extract(F.element_at(F.split("path", "/"), -1), "([0-9]+)", 1)
    order_key = F.when(stem == "", None).otherwise(stem).cast("long")
    source_dir = F.regexp_replace("path", "/[^/]*$", "")
    w = Window.partitionBy(source_dir).orderBy(
        order_key.asc_nulls_last(), F.col("path")
    )
    return df.select(
        source_dir.alias("source_dir"),
        F.col("path").alias("source_file"),
        F.col("content").alias("image"),
        (F.row_number().over(w) - 1).alias("frame_number"),
    )


def read_frames_table(spark: SparkSession, path: str) -> DataFrame:
    """Canonical input: a frames parquet table (schemas.FRAME_SCHEMA)."""
    return spark.read.parquet(path)


def read_stream(spark: SparkSession, url: str) -> DataFrame:
    """S3 StreamReader: unbounded source. rtsp:// needs a video-decode
    DataSourceStreamReader (edge adapter, not available in-container);
    rate:// provides the test stream with the same shape: monotonically
    increasing frame_number + event time (reference assigns exactly that,
    frame_reader.py:192-193)."""
    if url.startswith("rate://"):
        rows_per_sec = int(url.removeprefix("rate://") or "100")
        raw = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", rows_per_sec)
            .load()
        )
        return raw.select(
            F.lit("cam0").alias("camera_id"),
            F.col("value").alias("frame_number"),
            F.col("timestamp").alias("ts"),
        )
    raise NotImplementedError(
        "rtsp:// ingestion requires the video DataSource edge adapter "
        "(no video codec in this container); see SURVEY.md §7 'What's hard' #1"
    )


def _is_video(source: str) -> bool:
    return source.startswith("synthetic://") or source.lower().endswith(".avi")


def load_frames(spark: SparkSession, source: str) -> DataFrame:
    """S4 SourceReader dispatch (uav/frame_reader.py:209-221 semantics:
    scheme prefix → stream; video → uav_video; directory → images;
    file/table → frames)."""
    if source.startswith(("rtsp://", "rate://")):
        return read_stream(spark, source)
    if _is_video(source):
        from uav_streamprocessor_spark.sources import video_source

        video_source.register(spark)
        return spark.read.format("uav_video").option("path", source).load()
    p = Path(source)
    if p.is_dir() and not source.endswith(".parquet"):
        return read_image_dir(spark, source)
    if source.endswith(".parquet") or p.exists():
        return read_frames_table(spark, source)
    raise ValueError(f"unsupported source: {source!r}")


def load_keyframes(
    spark: SparkSession, source: str, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Exactly the keyframes of `source` (uav/main.py:116-139's
    `frame_count % keyframe_interval == 0`), decimated at the source where
    the source can seek.

    Video sources (synthetic:// / *.avi) are read with the keyframe
    numbers as a frame_number IN list, which `uav_video` consumes as a
    sparse seek plan: the skipped frames are never decoded. The list runs
    to the longest spec's n_frames (each decoder is opened on the driver,
    as `VideoBatchReader.partitions` does); the reader drops numbers past
    a shorter spec's end. framesPerPartition=1 gives one keyframe per
    partition: the sparse plan packs the requested frames into
    framesPerPartition-sized chunks, so a larger value serializes a
    camera's keyframe decodes in one task (MJPG detections A/B,
    median of 5: 1.66 -> 1.25 s, rows identical; ADJUDICATION_r18).
    Every other source is `load_frames` unchanged.

    The `keyframes()` modulo filter goes on top in both cases, so the
    rows never depend on the IN list. A caller that applies `keyframes()`
    again (as `plans.pipeline` does) gets the same plan: Catalyst merges
    the repeated modulo."""
    if not _is_video(source):
        return keyframes(load_frames(spark, source), cfg)
    from uav_streamprocessor_spark.sources import video_source

    video_source.register(spark)
    n_frames = max(
        video_source._open_decoder(s).n_frames for s in source.split(",")
    )
    frames = (
        spark.read.format("uav_video")
        .option("path", source)
        .option("framesPerPartition", "1")
        .load()
        .filter(
            F.col("frame_number").isin(
                list(range(0, n_frames, cfg.keyframe_interval))
            )
        )
    )
    return keyframes(frames, cfg)
