"""Custom uav_video DataSource: batch partition planning + streaming
offsets (S2/S3 adapter, SURVEY.md §7 'What's hard' #1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from uav_streamprocessor_spark.operators.pixel import decode_image
from uav_streamprocessor_spark.sources.video_source import register


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def test_batch_read_two_sources(spark):
    df = (
        spark.read.format("uav_video")
        .option(
            "path",
            "synthetic://camA?frames=95&w=64&h=36&seed=1,"
            "synthetic://camB?frames=40&w=48&h=64&seed=2",
        )
        .option("framesPerPartition", "30")
        .load()
    )
    assert df.count() == 135
    # partition planning: ceil(95/30) + ceil(40/30) partitions
    assert df.rdd.getNumPartitions() == 4 + 2
    per_cam = {r["camera_id"]: r["n"] for r in
               df.groupBy("camera_id").agg(F.count("*").alias("n")).collect()}
    assert per_cam == {"camA": 95, "camB": 40}
    # frame numbering contiguous per camera; images decodable
    rows = df.filter("camera_id = 'camA'").orderBy("frame_number").collect()
    assert [r["frame_number"] for r in rows] == list(range(95))
    img = decode_image(bytes(rows[0]["image"]))
    assert img.shape == (36, 64, 3)


def test_camera_filter_pushdown_prunes_sources(spark):
    """camera_id = 'camA' reaches VideoBatchReader.pushFilters and prunes
    camB's partitions entirely — no decode for filtered-out sources (the
    video analogue of partition pruning)."""
    df = (
        spark.read.format("uav_video")
        .option(
            "path",
            "synthetic://camA?frames=95&w=32&h=32&seed=1,"
            "synthetic://camB?frames=40&w=32&h=32&seed=2",
        )
        .option("framesPerPartition", "30")
        .load()
    )
    filtered = df.filter("camera_id = 'camA'")
    assert filtered.count() == 95
    # ceil(95/30) = 4 partitions; camB's 2 never planned
    assert filtered.rdd.getNumPartitions() == 4
    # IN-list form prunes the other way (multi-value → a real In filter,
    # not an EqualTo collapse — guards the In.value field name)
    both = df.filter(F.col("camera_id").isin("camB", "camZ"))
    assert both.count() == 40
    assert both.rdd.getNumPartitions() == 2


def test_register_enables_pushdown_for_vanilla_sessions(spark):
    """Spark refuses a reader that defines pushFilters while
    spark.sql.python.filterPushdown.enabled is false, its default. So
    `register` sets the conf on every call, also on a session where the
    source is already registered, and camera_id filters still prune
    whole sources afterwards."""
    from uav_streamprocessor_spark.sources.video_source import register

    key = "spark.sql.python.filterPushdown.enabled"
    spark.conf.set(key, "false")
    register(spark)
    assert spark.conf.get(key) == "true"
    df = (
        spark.read.format("uav_video")
        .option(
            "path",
            "synthetic://camA?frames=10&w=16&h=16&seed=1,"
            "synthetic://camB?frames=20&w=16&h=16&seed=2",
        )
        .option("framesPerPartition", "10")
        .load()
        .filter("camera_id = 'camB'")
    )
    assert df.rdd.getNumPartitions() == 2  # camA's partition never planned
    assert df.count() == 20


def test_pushdown_conjuncts_intersect_not_overwrite():
    """Two pushed camera_id filters must BOTH constrain the reader: the
    consumed-but-dropped-first-filter bug would return camB rows for
    `camera_id IN ('camA','camB') AND camera_id = 'camB'` ∩-violations.
    Exercised directly on the reader (Catalyst usually collapses such
    conjunctions, so the plan path can't reach it today)."""
    from pyspark.sql.datasource import EqualTo, In

    from uav_streamprocessor_spark.sources.video_source import VideoBatchReader

    opts = {
        "path": "synthetic://camA?frames=5&w=16&h=16&seed=1,"
        "synthetic://camB?frames=5&w=16&h=16&seed=2",
    }
    reader = VideoBatchReader(opts)
    leftover = list(
        reader.pushFilters(
            [In(("camera_id",), ("camA", "camB")), EqualTo(("camera_id",), "camB")]
        )
    )
    assert leftover == []  # both consumed...
    assert reader._camera_filter == {"camB"}  # ...and intersected
    # disjoint conjuncts → empty source, not a resurrected filter
    reader2 = VideoBatchReader(opts)
    list(reader2.pushFilters([EqualTo(("camera_id",), "camA"), EqualTo(("camera_id",), "camB")]))
    assert reader2._camera_filter == set()
    assert reader2.partitions() == []


def test_batch_read_deterministic(spark):
    opts = {"path": "synthetic://camA?frames=10&w=32&h=32&seed=9"}
    a = spark.read.format("uav_video").options(**opts).load().collect()
    b = spark.read.format("uav_video").options(**opts).load().collect()
    assert sorted(map(repr, a)) == sorted(map(repr, b))


def test_stream_drains_fully(spark, tmp_path):
    """availableNow drains the ENTIRE source regardless of framesPerBatch
    (latestOffset reports EOF; framesPerBatch only splits the range into
    parallel partitions)."""
    sdf = (
        spark.readStream.format("uav_video")
        .option("path", "synthetic://camS?frames=90&w=32&h=32&seed=3")
        .option("framesPerBatch", "40")
        .load()
    )
    q = (
        sdf.select("camera_id", "frame_number")
        .writeStream.format("memory")
        .queryName("video_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    nums = sorted(
        r["frame_number"]
        for r in spark.sql("SELECT * FROM video_stream").collect()
    )
    assert nums == list(range(90))
    assert len(nums) == len(set(nums)), "no duplicate frames across batches"


def test_stream_restart_from_checkpoint_no_duplicates(spark, tmp_path):
    """A restarted query on the same checkpoint sees the committed offset
    and emits nothing new (the fresh reader's latestOffset never regresses
    behind the checkpoint)."""
    out = tmp_path / "restart_out"
    ckpt = tmp_path / "restart_ckpt"

    def run_once():
        sdf = (
            spark.readStream.format("uav_video")
            .option("path", "synthetic://camR?frames=50&w=32&h=32&seed=5")
            .option("framesPerBatch", "20")
            .load()
        )
        q = (
            sdf.select("camera_id", "frame_number")
            .writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", str(ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    run_once()  # replay: fully committed → no new rows, no regression
    nums = sorted(
        r["frame_number"] for r in spark.read.parquet(str(out)).collect()
    )
    assert nums == list(range(50))


def test_pipeline_over_video_source(spark):
    """End-to-end: video source → decimation → letterbox+detect → flat
    detections (the reference's full path, uav/main.py:109-141)."""
    from uav_streamprocessor_spark.plans.pipeline import keyframe_detections_flat

    df = (
        spark.read.format("uav_video")
        .option("path", "synthetic://camP?frames=91&w=64&h=36&seed=4")
        .load()
    )
    flat = keyframe_detections_flat(df)
    rows = flat.collect()
    assert {r["frame_number"] for r in rows} <= {0, 30, 60, 90}
    assert len({r["frame_number"] for r in rows}) == 4
