"""Custom uav_video DataSource: batch partition planning + streaming
offsets (S2/S3 adapter, SURVEY.md §7 'What's hard' #1), and
`readers.load_keyframes`, the keyframe read over it."""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from tests.conftest import REPO
from uav_streamprocessor_spark.config import PipelineConfig
from uav_streamprocessor_spark.operators.pixel import decode_image
from uav_streamprocessor_spark.operators.uav_core import keyframes
from uav_streamprocessor_spark.sources.readers import load_frames, load_keyframes
from uav_streamprocessor_spark.sources.video_source import register
from uav_streamprocessor_spark.storage import formatted_plan
from uav_streamprocessor_spark.streaming.sinks import start_memory_sink


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


def test_fully_pruned_read_returns_no_rows(spark):
    """Pushed filters that prune every source or every frame leave
    `partitions()` empty; Spark then plans one None partition, which the
    reader reads as nothing."""
    df = (
        spark.read.format("uav_video")
        .option("path", "synthetic://camA?frames=4&w=16&h=16&seed=1")
        .load()
    )
    assert df.filter(F.col("camera_id") == "nope").count() == 0
    assert df.filter(F.col("frame_number").isin([99])).count() == 0


def test_unreadable_specs_fail_with_their_own_message(tmp_path):
    """A spec no decoder opens fails the caller's query with the decoder's
    message, not with Spark's "partitions not implemented" fallback. Run
    in a fresh session: `test_codec_seam` ships a cv2-shaped module to
    the shared session's workers, which would open the `.mp4`."""
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from uav_streamprocessor_spark.session import get_spark
        from uav_streamprocessor_spark.sources.video_source import register

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        register(spark)
        for path in ("/tmp/x.mp4", "", "synthetic://camA?frames=4,"):
            try:
                spark.read.format("uav_video").option("path", path).load().count()
                print("no error", repr(path))
            except Exception as e:
                print("error", repr(path), str(e).replace("\\n", " "))
    """))
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g")
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith(("error", "no error"))]
    assert len(lines) == 3, out.stdout
    assert lines[0].startswith("error '/tmp/x.mp4'") and "no video codec" in lines[0]
    for line in lines[1:]:
        assert line.startswith("error") and "'path' option" in line, line


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
    q = start_memory_sink(
        sdf.select("camera_id", "frame_number"), "video_stream", tmp_path / "ckpt"
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


def _rows(df):
    return sorted(
        (r["camera_id"], r["frame_number"], hashlib.sha256(bytes(r["image"])).hexdigest())
        for r in df.select("camera_id", "frame_number", "image").collect()
    )


def test_load_keyframes_synthetic_cameras_of_different_lengths(spark):
    """Two cameras of 61 and 31 frames at interval 30: the keyframe list
    runs to the longer camera, the shorter one drops 60, and each of the
    5 keyframes is one partition of the sparse plan."""
    src = (
        "synthetic://camK?frames=61&w=64&h=36&seed=7,"
        "synthetic://camL?frames=31&w=64&h=36&seed=8"
    )
    kf = load_keyframes(spark, src)
    assert _rows(kf) == _rows(keyframes(load_frames(spark, src)))
    assert [(c, f) for c, f, _ in _rows(kf)] == [
        ("camK", 0), ("camK", 30), ("camK", 60), ("camL", 0), ("camL", 30)
    ]
    assert kf.rdd.getNumPartitions() == 5
    plan = formatted_plan(kf)
    assert "PushedFilters: [In(frame_number, [0,30,60])]" in plan, plan


def test_load_keyframes_mjpeg_avi_cameras(spark, tmp_path):
    """A 2-camera MJPG .avi source (5 and 3 frames) at interval 2: the
    keyframes are entropy-decoded one per partition, nothing else."""
    from uav_streamprocessor_spark.operators.jpeg import encode_jpeg
    from uav_streamprocessor_spark.operators.pixel import make_test_image
    from uav_streamprocessor_spark.sources.avi import FOURCC_MJPG, write_avi

    paths = []
    for cam, n in (("camM", 5), ("camN", 3)):
        jpegs = [
            encode_jpeg(decode_image(make_test_image(i, 36, 64)), quality=85)
            for i in range(n)
        ]
        paths.append(str(write_avi(
            tmp_path / f"{cam}.avi", jpegs, fps=25.0, fourcc=FOURCC_MJPG,
            width=64, height=36,
        )))
    src = ",".join(paths)
    cfg = PipelineConfig(keyframe_interval=2)
    kf = load_keyframes(spark, src, cfg)
    assert _rows(kf) == _rows(keyframes(load_frames(spark, src), cfg))
    assert [(c, f) for c, f, _ in _rows(kf)] == [
        ("camM", 0), ("camM", 2), ("camM", 4), ("camN", 0), ("camN", 2)
    ]
    assert kf.rdd.getNumPartitions() == 5


def test_load_keyframes_frames_parquet(spark, tmp_path):
    """A frames parquet is read as `load_frames` reads it, with the
    keyframe filter on top: same rows, same scan partitions."""
    path = str(tmp_path / "frames.parquet")
    spark.read.format("uav_video").option(
        "path", "synthetic://camP?frames=61&w=64&h=36&seed=9"
    ).load().write.parquet(path)
    kf = load_keyframes(spark, path)
    frames = load_frames(spark, path)
    assert _rows(kf) == _rows(keyframes(frames))
    assert [f for _, f, _ in _rows(kf)] == [0, 30, 60]
    assert kf.rdd.getNumPartitions() == frames.rdd.getNumPartitions()


def test_workers_import_the_package_from_any_cwd(tmp_path):
    """A driver started outside the checkout, with only the driver's
    sys.path pointing at it, still runs Python data-source and UDF
    workers: the session hands the workers the package's location."""
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(REPO)!r})
        from uav_streamprocessor_spark.operators.pixel import letterbox_and_detect
        from uav_streamprocessor_spark.session import get_spark
        from uav_streamprocessor_spark.sources.readers import load_frames

        spark = get_spark(master="local[1]", shuffle_partitions=1)
        frames = load_frames(spark, "synthetic://cam0?frames=2&w=64&h=36")
        print("rows", letterbox_and_detect(frames).count())
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert "rows 2" in out.stdout
