"""Streaming sources (SURVEY.md §2 op S3, §7 M4).

The reference's unbounded source is a blocking RTSP iterator
(uav/frame_reader.py:158-199: cv2.VideoCapture on rtsp://, frames emitted
until a failed grab). The engine's streaming inputs:

- `ordered_slices` + `file_stream`: the test corpus's stand-in for a
  live feed, and the feed of the streaming state stores.
  `ordered_slices` splits a table into n equal-count parts ranked by a
  key, so every part's rows precede the next part's; `file_stream`
  writes part i as the file src/f{i} and returns the stream that reads
  one file per micro-batch, so part i is micro-batch i.
- RTSP itself needs a video-decode DataSourceStreamReader at the cluster
  edge; its contract is sources/readers.read_stream (NotImplementedError
  in this container — no video codec).
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


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
