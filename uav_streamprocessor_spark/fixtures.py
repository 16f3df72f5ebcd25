"""Deterministic UAV-domain fixture derivation, shared Spark ↔ DuckDB.

The reference's data (video frames + YOLO detections) cannot ship in a
parquet test corpus, so the engine derives a deterministic `frames` /
`detections` / `segments` model FROM the driver-provided tables using pure
integer arithmetic that evaluates bit-identically in both Spark SQL and
DuckDB. Every UAV-surface operator is therefore fully oracle-checkable:
the driver runs the Spark plan and the same ANSI SQL in DuckDB and hashes
both results.

Derivation semantics mirror the reference:

- frames: one row per source frame across 4 cameras with distinct aspect
  ratios (landscape/portrait/square — exercises both letterbox branches,
  uav/frame_processing.py:29-39); contiguous 0-based frame_number per camera
  (uav/custom_types.py:28); nullable / zero fps rows to exercise the 25.0
  fallback (uav/frame_processing.py:152, frame_reader.py:174-176).
- detections: boxes only on keyframes (frame_number % 30 == 0 — the
  decimation gate, uav/main.py:116), confidences straddling the 0.4
  threshold (uav/frame_processing.py:64), class names supersetting the
  default ['car','person'] whitelist (uav/frame_processing.py:63), integer
  corner coords with x_min<x_max, y_min<y_max within the canvas
  (uav/frame_processing.py:105-110).
- segments: 4 contiguous per-camera frame ranges with pseudo-random
  boundaries (uav/video_splitter.py:27-79, boundaries :48-49) — seeded
  arithmetic instead of random.sample so both engines agree.

Cross-engine SQL rules used throughout (validated in tests):
only integer +,*,%,CASE,CAST,least,lpad,||,row_number; floats only as
exact-int / exact-power-of-ten divisions; floor() always CAST to BIGINT
(Spark floor→LONG, DuckDB floor→DOUBLE).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# CTE bodies (ANSI SQL, engine-portable). Composed into WITH-clauses both by
# the Spark view registration below and by __spark_entry__.oracle_sql().
# ---------------------------------------------------------------------------

FRAMES_CTE = """
  SELECT
    'cam' || CAST(event_id % 4 AS STRING)                        AS camera_id,
    CAST(event_id % 4 AS INT)                                    AS camera_num,
    CAST(floor(event_id / 4) AS BIGINT)                          AS frame_number,
    ts                                                           AS ts,
    CASE CAST(event_id % 4 AS INT)
      WHEN 0 THEN 1920 WHEN 1 THEN 1280 WHEN 2 THEN 1080 ELSE 640 END AS width,
    CASE CAST(event_id % 4 AS INT)
      WHEN 0 THEN 1080 WHEN 1 THEN 720 WHEN 2 THEN 1920 ELSE 480 END  AS height,
    CASE WHEN event_id % 10 = 0 THEN CAST(NULL AS DOUBLE)
         WHEN event_id % 10 = 5 THEN 0.0
         ELSE CAST(24 + event_id % 4 AS DOUBLE) END              AS fps,
    'frame_' || lpad(CAST(CAST(floor(event_id / 4) AS BIGINT) AS STRING), 5, '0')
      || '.jpg'                                                  AS source_file
  FROM events
"""

# kf_idx is the reference's GLOBAL keyframe number (ordered by camera_id,
# frame_number). A global row_number would be a single-partition sort —
# the 100 TB anti-pattern — so it's derived arithmetically instead:
# kf_idx = (total keyframes of lexically-smaller cameras) + frame_number/30.
# Per-camera keyframes are contiguous multiples of 30, so frame_number/30
# is the within-camera index; the per-camera offsets come from a 4-row
# aggregate joined back (broadcast). Values are identical to the
# row_number form, but the plan is fully parallel.
KEYFRAMES_CTE = """
  SELECT kf.camera_id, kf.camera_num, kf.frame_number, kf.width, kf.height,
         kf.fps, kf.ts,
         o.kf_offset + CAST(floor(kf.frame_number / 30) AS BIGINT) AS kf_idx
  FROM (SELECT * FROM frames WHERE frame_number % 30 = 0) kf
  JOIN (
    SELECT c.camera_id, CAST(coalesce(sum(p.n_kf), 0) AS BIGINT) AS kf_offset
    FROM (SELECT camera_id, count(*) AS n_kf FROM frames
          WHERE frame_number % 30 = 0 GROUP BY camera_id) c
    LEFT JOIN (SELECT camera_id, count(*) AS n_kf FROM frames
               WHERE frame_number % 30 = 0 GROUP BY camera_id) p
      ON p.camera_id < c.camera_id
    GROUP BY c.camera_id
  ) o ON o.camera_id = kf.camera_id
"""

# one detection per lineitem row, hashed onto keyframes; `seed` drives every
# attribute so both engines derive identical boxes
DETECTIONS_CTE = """
  SELECT
    d.det_id                                                     AS det_id,
    k.camera_id                                                  AS camera_id,
    k.frame_number                                               AS frame_number,
    CAST(d.seed % 600 AS INT)                                    AS x_min,
    CAST((d.seed * 3) % 600 AS INT)                              AS y_min,
    CAST(least(d.seed % 600 + 8 + d.seed % 37, 640) AS INT)      AS x_max,
    CAST(least((d.seed * 3) % 600 + 8 + d.seed % 29, 640) AS INT) AS y_max,
    CAST(d.seed % 1000 AS DOUBLE) / 1000.0                       AS confidence,
    CASE CAST(d.seed % 5 AS INT)
      WHEN 0 THEN 2 WHEN 1 THEN 0 WHEN 2 THEN 7 WHEN 3 THEN 1 ELSE 16 END
                                                                 AS class_id,
    CASE CAST(d.seed % 5 AS INT)
      WHEN 0 THEN 'car' WHEN 1 THEN 'person' WHEN 2 THEN 'truck'
      WHEN 3 THEN 'bicycle' ELSE 'dog' END                       AS class_name
  FROM (
    -- (l_orderkey, l_linenumber) is NOT unique in the synthetic corpus;
    -- the full 6-column tuple is. det_id = orderkey*100 + per-orderkey
    -- row_number (max rows/orderkey ≈ 17 < 100): unique, deterministic in
    -- both engines, and the window is PARTITIONED — no global sort.
    SELECT l_orderkey, l_linenumber,
           l_orderkey * 100
             + row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_linenumber, l_partkey,
                                  l_suppkey, l_quantity, l_extendedprice)
                                                                 AS det_id,
           l_orderkey * 131 + l_linenumber * 17 + l_partkey      AS seed,
           CAST((l_orderkey * 7 + l_linenumber)
                % (SELECT count(*) FROM keyframes) AS BIGINT)    AS kf_idx
    FROM lineitem
  ) d
  JOIN keyframes k ON k.kf_idx = d.kf_idx
  -- every 7th keyframe stays detection-free so the anti-join surface
  -- (uav_frames_without_detections) verifies on non-empty results
  WHERE k.kf_idx % 7 <> 3
"""

# 4 contiguous per-camera segments; boundary percents = seg*25 shifted by a
# per-camera arithmetic "seed" (deterministic stand-in for the reference's
# random.sample boundaries, uav/video_splitter.py:48-49)
SEGMENTS_CTE = """
  SELECT c.camera_id, t.seg AS segment_id,
    CAST(CASE WHEN t.seg = 1 THEN 0
         ELSE floor(c.max_frame * ((t.seg - 1) * 25 + (c.camera_num * 13) % 11 - 5)
                    / 100.0) END AS BIGINT)                      AS start_frame,
    CAST(CASE WHEN t.seg = 4 THEN c.max_frame + 1
         ELSE floor(c.max_frame * (t.seg * 25 + (c.camera_num * 13) % 11 - 5)
                    / 100.0) END AS BIGINT)                      AS end_frame
  FROM (
    SELECT camera_id, CAST(min(camera_num) AS INT) AS camera_num,
           max(frame_number) AS max_frame
    FROM frames GROUP BY camera_id
  ) c
  CROSS JOIN (VALUES (1), (2), (3), (4)) AS t(seg)
"""

_CTE_CHAIN = (
    ("frames", FRAMES_CTE),
    ("keyframes", KEYFRAMES_CTE),
    ("detections", DETECTIONS_CTE),
    ("segments", SEGMENTS_CTE),
)


def with_fixture_ctes(select_sql: str) -> str:
    """Prefix ``select_sql`` with the full fixture CTE chain.

    Used verbatim as DuckDB oracle SQL (the driver pre-registers the base
    parquet tables as views) and runnable unchanged in Spark.
    """
    ctes = ",\n".join(f"{name} AS ({body})" for name, body in _CTE_CHAIN)
    return f"WITH {ctes}\n{select_sql}"


# ---------------------------------------------------------------------------
# Spark-side registration
# ---------------------------------------------------------------------------

# the corpus stores TIMESTAMP(NANOS) which Spark's vectorized parquet reader
# rejects; DuckDB truncates them to microseconds at scan. We read nanos as
# longs and truncate with integer division (`div`, exact on int64 — a double
# division would lose precision above 2^53) so both engines see identical
# microsecond values.
_NANO_TS_COLUMNS = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def register_base_tables(spark: SparkSession, sf_dir: str) -> None:
    """Register the driver parquet corpus as temp views named like DuckDB's."""
    from uav_streamprocessor_spark.schemas import TESTDATA_TABLES

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in TESTDATA_TABLES:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        for col in _NANO_TS_COLUMNS.get(name, ()):
            if dict(df.dtypes).get(col) == "bigint":
                df = df.withColumn(
                    col, F.expr(f"timestamp_micros({col} div 1000)")
                )
        df.createOrReplaceTempView(name)


# last-registered sf_dir per session — registration is idempotent but not
# free (parquet footer reads + view analysis), and the driver/bench call
# every query back-to-back on one session
_REGISTERED: dict[int, str] = {}
_CACHED_DFS: dict[int, list[DataFrame]] = {}


def register_uav_views(spark: SparkSession, sf_dir: str) -> None:
    """Register base tables plus derived frames/keyframes/detections/segments.

    Each derived view is materialized from the same CTE text the oracle
    uses, so Spark and DuckDB see byte-identical fixture semantics.

    The derived views are cached (lazily, memory+disk) so the derivation
    runs once per session instead of inside every UAV query. This is
    fixture materialization, not an operator crutch — real deployments
    read frames/detections as stored tables (see storage.py bucketing)
    and never re-derive them per query.
    """
    key = id(spark._jsparkSession) if hasattr(spark, "_jsparkSession") else id(spark)
    if _REGISTERED.get(key) == sf_dir:
        return
    for df in _CACHED_DFS.pop(key, []):
        df.unpersist()
    register_base_tables(spark, sf_dir)
    cached: list[DataFrame] = []
    for name, body in _CTE_CHAIN:
        # each CTE body references only earlier names, which are registered
        # (and persisted) by the time it runs — so a later view's plan
        # resolves to the cached parent instead of re-inlining its chain
        df = spark.sql(body)
        df.persist()
        cached.append(df)
        df.createOrReplaceTempView(name)
    _CACHED_DFS[key] = cached
    _REGISTERED[key] = sf_dir


def frames_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    register_uav_views(spark, sf_dir)
    return spark.table("frames")

