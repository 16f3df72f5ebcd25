"""Core UAV-surface operators, Spark-first (SURVEY.md §2 ops F1, T2-rel,
A1, S1, U2, K2-payload and the join/window/set-op surface around them).

Each function is a pure DataFrame→DataFrame transform; Catalyst handles
pushdown/pruning. Scale notes are inline per operator.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from uav_streamprocessor_spark.config import DEFAULT_CONFIG, PipelineConfig


# --- F1: keyframe decimation (uav/main.py:116, default N=30 main.py:52) ---
def is_keyframe(cfg: PipelineConfig = DEFAULT_CONFIG) -> Column:
    """The reference's keyframe rule, `frame_count % keyframe_interval
    == 0` (uav/main.py:116), as one Column for every filter and counter."""
    return F.col("frame_number") % cfg.keyframe_interval == 0


def keyframes(frames: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG) -> DataFrame:
    """Every-Nth-frame filter, on batch and streaming frames alike (the
    reference applies the same predicate before resize/detect,
    uav/main.py:116-139). The modulo is not a pushed filter: on a parquet
    scan `explain` shows only `IsNotNull(frame_number)` in PushedFilters
    and the modulo in DataFilters, so the scan still reads every frame.
    `sources.readers.load_keyframes` reads a source's keyframes with this
    filter on top of the frame_number IN list the `uav_video` source
    consumes, so only the keyframes are decoded."""
    return frames.filter(is_keyframe(cfg))


# --- T2 relational half: class whitelist + confidence threshold
# (uav/frame_processing.py:93,103; defaults :63-64) ---
def filter_detections(
    detections: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """`isin` on a literal list + `>=` threshold — both codegen'd, both
    pushdown-eligible. The reference pushes the threshold into the model
    call (conf=, frame_processing.py:93); here the detector UDF takes the
    same parameter and this relational filter re-asserts it so the plan is
    oracle-checkable."""
    return detections.filter(
        F.col("class_name").isin(list(cfg.classes))
        & (F.col("confidence") >= F.lit(cfg.confidence))
    )


# --- flagship: per-class stats on keyframes (M1 of SURVEY.md §7) ---
def class_stats(
    detections: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Per class: detections count, avg/max confidence. One shuffle on a
    5-value key; partial aggregation map-side combines before it."""
    return (
        filter_detections(detections, cfg)
        .groupBy("class_name")
        .agg(
            F.count(F.lit(1)).alias("n_detections"),
            F.round(F.avg("confidence"), 6).alias("avg_confidence"),
            F.round(F.max("confidence"), 6).alias("max_confidence"),
        )
    )


# --- A1: frame counters (uav/main.py:90-91,141-146) ---
def frame_counters(
    frames: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """The reference's driver-side mutable counters become one grouped
    aggregation: total frames and keyframes per camera (conditional sum =
    map-side combinable, no second pass)."""
    is_kf = is_keyframe(cfg).cast("long")
    return frames.groupBy("camera_id").agg(
        F.count(F.lit(1)).alias("total_frames"),
        F.sum(is_kf).alias("keyframes"),
    )


def running_keyframe_counter(
    frames: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Cumulative processed-keyframe count per camera over frame order —
    the streaming analogue of main.py:141's counter. Window partitioned by
    camera_id so state never concentrates on one task."""
    w = (
        Window.partitionBy("camera_id")
        .orderBy("frame_number")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_kf = is_keyframe(cfg).cast("long")
    return frames.select(
        "camera_id",
        "frame_number",
        F.sum(is_kf).over(w).alias("keyframes_so_far"),
    )


# --- S1: filename-order extraction (uav/frame_reader.py:62-66) ---
def filename_order(frames: DataFrame) -> DataFrame:
    """The reference orders image files by the first integer in the stem
    (frame_reader.py:64). Relationally: regexp_extract + cast, then a
    per-camera row_number to re-derive the 0-based frame index."""
    extracted = F.regexp_extract(F.col("source_file"), "([0-9]+)", 1).cast("long")
    w = Window.partitionBy("camera_id").orderBy(extracted, "source_file")
    return frames.select(
        "camera_id",
        "source_file",
        extracted.alias("file_order_key"),
        (F.row_number().over(w) - 1).alias("derived_frame_number"),
        "frame_number",
    )


# --- fps fallback (uav/frame_processing.py:152: fps if fps and fps>0 else 25.0) ---
def effective_fps(
    frames: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    eff = F.coalesce(
        F.nullif(F.col("fps"), F.lit(0.0)), F.lit(cfg.fallback_fps)
    )
    return frames.select(
        "camera_id", "frame_number", F.col("fps"), eff.alias("effective_fps")
    )


# --- joins: the keyed form of the reference's positional frame→boxes
# pairing (uav/main.py:125-134) ---
def frames_with_detection_stats(
    frames: DataFrame, detections: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Inner equi-join keyframes ⋈ filtered detections, then per-frame
    stats (n boxes = main.py:127's len(bboxes)). Join keys (camera_id,
    frame_number) — at scale both sides arrive hash-partitioned on the same
    keys, and AQE picks broadcast when the decimated side is small."""
    det = (
        filter_detections(detections, cfg)
        .groupBy("camera_id", "frame_number")
        .agg(
            F.count(F.lit(1)).alias("n_boxes"),
            F.round(F.max("confidence"), 6).alias("best_confidence"),
        )
    )
    kf = keyframes(frames, cfg).select(
        "camera_id", "frame_number", "width", "height"
    )
    return kf.join(det, ["camera_id", "frame_number"], "inner")


def keyframes_without_detections(
    frames: DataFrame, detections: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Anti join: keyframes that produced zero (post-filter) boxes — the
    reference logs this case explicitly (uav/main.py:128-129)."""
    det = filter_detections(detections, cfg).select("camera_id", "frame_number")
    return (
        keyframes(frames, cfg)
        .join(det, ["camera_id", "frame_number"], "left_anti")
        .select("camera_id", "frame_number", "width", "height")
    )


def keyframes_with_detections(
    frames: DataFrame, detections: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Semi join variant (EXISTS)."""
    det = filter_detections(detections, cfg).select("camera_id", "frame_number")
    return (
        keyframes(frames, cfg)
        .join(det, ["camera_id", "frame_number"], "left_semi")
        .select("camera_id", "frame_number", "width", "height")
    )


# --- U2: segment range-assignment (uav/video_splitter.py:27-79) ---
def assign_segments(frames: DataFrame, segments: DataFrame) -> DataFrame:
    """Range join frame_number ∈ [start_frame, end_frame). The segments
    side is tiny (4 rows/camera) → broadcast, so the range condition is
    evaluated map-side with no shuffle of the big frames table."""
    return frames.join(
        F.broadcast(segments),
        on=[
            frames["camera_id"] == segments["camera_id"],
            frames["frame_number"] >= segments["start_frame"],
            frames["frame_number"] < segments["end_frame"],
        ],
        how="inner",
    ).select(
        frames["camera_id"],
        frames["frame_number"],
        segments["segment_id"],
    )


def segment_stats(frames: DataFrame, segments: DataFrame) -> DataFrame:
    """Per segment: frame count and frame range actually covered."""
    return (
        assign_segments(frames, segments)
        .groupBy("camera_id", "segment_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.min("frame_number").alias("first_frame"),
            F.max("frame_number").alias("last_frame"),
        )
    )


def segment_reassembly_diff(frames: DataFrame, segments: DataFrame) -> DataFrame:
    """Set-op proof that splitting is lossless: frames EXCEPT ALL
    (union of per-segment slices) must be empty — the engine's version of
    reassembling video_splitter.py's segment files."""
    sliced = assign_segments(frames, segments).select("camera_id", "frame_number")
    return frames.select("camera_id", "frame_number").exceptAll(sliced)


# --- window functions over detections ---
def detection_rank_per_camera(
    detections: DataFrame, top_n: int = 5, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Top-N most confident (filtered) detections per camera; dense ranking
    with det_id tiebreak for determinism."""
    w = Window.partitionBy("camera_id").orderBy(
        F.col("confidence").desc(), F.col("det_id")
    )
    return (
        filter_detections(detections, cfg)
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= top_n)
        .select("camera_id", "rnk", "det_id", "frame_number", "class_name",
                F.round("confidence", 6).alias("confidence"))
    )


def detection_lag_lead(detections: DataFrame) -> DataFrame:
    """lag/lead of confidence in detection order per camera — the
    frame-over-frame delta analytics the reference's log stream implies."""
    w = Window.partitionBy("camera_id").orderBy("frame_number", "det_id")
    conf = F.round("confidence", 6)
    return detections.select(
        "camera_id",
        "frame_number",
        "det_id",
        conf.alias("confidence"),
        F.round(F.lag("confidence", 1).over(w), 6).alias("prev_confidence"),
        F.round(F.lead("confidence", 1).over(w), 6).alias("next_confidence"),
    )


def top_confidence_global(
    detections: DataFrame, k: int = 20, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Global top-k by confidence — Spark plans TakeOrderedAndProject
    (per-partition heap + driver merge; no full sort at scale)."""
    return (
        filter_detections(detections, cfg)
        .orderBy(F.col("confidence").desc(), F.col("det_id"))
        .limit(k)
        .select("det_id", "camera_id", "frame_number", "class_name",
                F.round("confidence", 6).alias("confidence"))
    )


# --- K2 payload: the HTTP sink's metadata projection
# (uav/frame_processing.py:230-248) ---
def detection_metadata_fields(
    detections: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Field-level form of the wire metadata: class_name, class_id,
    confidence rounded to 4 (frame_processing.py:236) via the
    integer-scaling idiom round(x*10000)/10000 — plain round(x, 4)
    HALF_UPs a decimal string in Spark but rounds the binary double in
    DuckDB, diverging when a quotient lands exactly on .xxxx5 (the
    tpch_q2_min_cost class, ADVICE r10) — box corners (:237)."""
    conf4 = (F.round(F.col("confidence") * 10000) / 10000).alias("confidence")
    return filter_detections(detections, cfg).select(
        "camera_id",
        "frame_number",
        "det_id",
        "class_name",
        "class_id",
        conf4,
        "x_min", "y_min", "x_max", "y_max",
    )


def detection_metadata_json(
    detections: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Exact wire format: one JSON document per keyframe —
    {"frame_number": N, "detections": [{class_name, class_id, confidence,
    box:[x1,y1,x2,y2]}, ...]} (uav/frame_processing.py:241-248), built with
    collect_list + to_json entirely JVM-side."""
    det_struct = F.struct(
        F.col("class_name"),
        F.col("class_id"),
        # integer-scaling round — keeps the printed double bit-identical
        # across engines on .xxxx5 ties (see detection_metadata_fields)
        (F.round(F.col("confidence") * 10000) / 10000).alias("confidence"),
        F.array("x_min", "y_min", "x_max", "y_max").alias("box"),
    )
    return (
        filter_detections(detections, cfg)
        .withColumn("det", det_struct)
        .withColumn("order_key", F.col("det_id"))
        .groupBy("camera_id", "frame_number")
        .agg(F.sort_array(F.collect_list(F.struct("order_key", "det"))).alias("ds"))
        .select(
            "camera_id",
            "frame_number",
            F.to_json(
                F.struct(
                    F.col("frame_number"),
                    F.transform(F.col("ds"), lambda x: x["det"]).alias("detections"),
                )
            ).alias("metadata_json"),
        )
    )


def fps_null_semantics(frames: DataFrame) -> DataFrame:
    """NULL-semantics surface over the fps column (nullable by fixture
    design, mirroring the reference's unknown-fps streams,
    uav/frame_reader.py:174-176): IS NULL counting, null-safe equality
    (<=> / IS NOT DISTINCT FROM), and coalesce defaults — per camera."""
    fps = F.col("fps")
    return (
        frames.groupBy("camera_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(fps.isNull().cast("long")).alias("n_null_fps"),
            F.sum(fps.eqNullSafe(0.0).cast("long")).alias("n_zero_fps"),
            F.sum(
                F.coalesce(F.nullif(fps, F.lit(0.0)), F.lit(25.0))
            ).alias("sum_effective_fps"),
            F.count(fps).alias("n_fps_known"),
        )
    )
