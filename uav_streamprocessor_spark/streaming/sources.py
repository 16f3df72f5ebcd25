"""Streaming sources (SURVEY.md §2 op S3, §7 M4).

The reference's unbounded source is a blocking RTSP iterator
(uav/frame_reader.py:158-199: cv2.VideoCapture on rtsp://, frames emitted
until a failed grab). The engine's streaming inputs:

- `stream_events_from_parquet`: replays the events table as a file stream
  (the test corpus's stand-in for a live feed) — one parquet file per
  time-slice so micro-batches see ordered arrival with natural late rows.
- `rate_frames`: rate-source frames with the reference's frame_number/ts
  shape for unbounded pipeline tests.
- `ordered_slices` + `file_stream`: the feed of the streaming state
  stores. `ordered_slices` splits a table into n equal-count parts ranked
  by a key, so every part's rows precede the next part's; `file_stream`
  writes part i as the file src/f{i} and returns the stream that reads
  one file per micro-batch, so part i is micro-batch i.
- RTSP itself needs a video-decode DataSourceStreamReader at the cluster
  edge; its contract is sources/readers.read_stream (NotImplementedError
  in this container — no video codec).
"""

from __future__ import annotations

import math
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def prepare_event_stream_dir(
    spark: SparkSession, sf_dir: str, out_dir: str, n_slices: int = 8
) -> str:
    """Materialize events as n_slices parquet files ordered by time, so a
    file stream replays them as an ordered-but-imperfect feed (rows within
    a slice are unordered → bounded out-of-orderness for watermark tests).
    """
    from uav_streamprocessor_spark.fixtures import register_base_tables

    register_base_tables(spark, sf_dir)
    ev = spark.table("events")
    bounds = ev.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    lo, hi = bounds["lo"], bounds["hi"]
    span = max((hi - lo).total_seconds(), 1.0)
    slice_col = F.least(
        F.lit(n_slices - 1),
        F.floor(
            (F.unix_timestamp("ts") - F.lit(int(lo.timestamp())))
            / F.lit(math.ceil(span / n_slices))
        ).cast("int"),
    )
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    # one file per slice, written in slice order → arrival order ≈ ts order
    sliced = ev.withColumn("slice", slice_col)
    for i in range(n_slices):
        (
            sliced.filter(F.col("slice") == i)
            .drop("slice")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(out / f"slice={i:03d}"))
        )
    return str(out)


def stream_events(spark: SparkSession, stream_dir: str) -> DataFrame:
    """File-stream over the prepared slices (recursive lookup so each
    slice dir's part-file is picked up; maxFilesPerTrigger=1 → one slice
    per micro-batch)."""
    from uav_streamprocessor_spark.schemas import TESTDATA_TABLES  # noqa: F401

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stream_dir)
    )


def rate_frames(spark: SparkSession, rows_per_second: int = 100) -> DataFrame:
    """Unbounded frames with the reference's shape: monotone frame_number
    per camera + event time (frame_reader.py:192-193 semantics)."""
    raw = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .load()
    )
    return raw.select(
        F.concat(F.lit("cam"), (F.col("value") % 4).cast("string")).alias("camera_id"),
        (F.col("value") / 4).cast("long").alias("frame_number"),
        F.col("timestamp").alias("ts"),
    )


def ordered_slices(df: DataFrame, n: int, ordered_by) -> list[DataFrame]:
    """df split into n parts of ceil(count / n) rows ranked by the
    columns ordered_by (the last part takes the remainder): each part's
    last row precedes the next part's first, the cross-batch order the
    sequential state stores need."""
    per = -(-df.count() // n)
    ranked = df.withColumn("_rn", F.row_number().over(Window.orderBy(*ordered_by)))
    return [
        ranked.filter((F.col("_rn") > i * per) & (F.col("_rn") <= (i + 1) * per))
        .drop("_rn")
        for i in range(n)
    ]


def file_stream(spark: SparkSession, parts, src, schema: str) -> DataFrame:
    """Write part i as one parquet file under src/f{i}, in list order,
    and return the file stream over src with maxFilesPerTrigger=1, so
    part i is micro-batch i. With no parts it opens the stream over the
    files already under src."""
    for i, part in enumerate(parts):
        part.coalesce(1).write.parquet(str(Path(src) / f"f{i}"))
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
