"""Canonical engine schemas (SURVEY.md §1.3).

The reference's two record types map to two tables:

- ``Frame`` (uav/custom_types.py:22-44) → a row of the ``frames`` table;
  pixels ride along as an encoded-image ``BinaryType`` column (shuffle-
  friendly at 100 TB scale), never as nested numeric arrays.
- ``BBox`` (uav/custom_types.py:5-20) → a row of the ``detections`` table,
  keyed by (camera_id, frame_number) — the reference carries the frame→boxes
  1:N relationship positionally (uav/main.py:125-134); the engine keys it.
"""

from __future__ import annotations

from pyspark.sql import types as T

# reference Frame (uav/custom_types.py:22-44) + engine additions:
# camera_id (generalizes the single source of frame_reader.py:202-230) and
# ts (real event time; reference only has logical frame_number time, §1.2)
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("camera_id", T.StringType(), False),
        T.StructField("camera_num", T.IntegerType(), False),
        T.StructField("frame_number", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("width", T.IntegerType(), False),
        T.StructField("height", T.IntegerType(), False),
        # nullable: RTSP may not report fps (frame_reader.py:174-176)
        T.StructField("fps", T.DoubleType(), True),
        T.StructField("source_file", T.StringType(), True),
        # encoded image bytes (JPEG/PNG); optional multimodal payload
        T.StructField("image", T.BinaryType(), True),
    ]
)

# reference BBox (uav/custom_types.py:5-20): int pixel corners, confidence,
# class id + name
BBOX_STRUCT = T.StructType(
    [
        T.StructField("x_min", T.IntegerType(), False),
        T.StructField("y_min", T.IntegerType(), False),
        T.StructField("x_max", T.IntegerType(), False),
        T.StructField("y_max", T.IntegerType(), False),
        T.StructField("confidence", T.DoubleType(), False),
        T.StructField("class_id", T.IntegerType(), False),
        T.StructField("class_name", T.StringType(), False),
    ]
)

# driver-provided relational corpus (TESTDATA.md); names only — schemas come
# from parquet footers.
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
