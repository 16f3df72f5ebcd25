"""Closed-loop replay of a recorded flight through the batch pipeline.

Each pass makes the calls `main.main` makes: `recorder_rows` -> parquet,
`keyframe_detections_flat` -> parquet, `sender_payloads` -> JSON, then the
counters read back from the written data. `main.main` reads `.avi` paths
as parquet, so both workloads compose those calls over
`spark.read.format("uav_video")` themselves.

- archive_raw: the synthetic raw-tensor `uav_video` source, keyframe
  interval 30. Decode, the Python->JVM transfer and writing every frame
  dominate; pixel work touches 1/30 of the frames.
- archive_mjpeg: real MJPG AVI files built from the seed, keyframe
  interval 1. Pure-numpy JPEG decode, AVI demux and letterboxing every
  frame dominate; decimation is bypassed.
"""

from __future__ import annotations

import json
import math
import shutil
import time
from dataclasses import asdict, dataclass
from pathlib import Path

from harness import eventlog_unit, median, p90
from inputs import aerial_frames


@dataclass(frozen=True)
class ArchiveParams:
    codec: str  # "raw" (synthetic raw-tensor source) or "mjpeg" (MJPG AVI files)
    cameras: int
    frames: int  # per camera
    width: int
    height: int
    keyframe_interval: int
    # untimed passes before timing: on the raw source the first pass after
    # a single warm-up still ran ~20% slow, on MJPG it did not
    warmup_passes: int
    jpeg_quality: int = 85


PARAMS = {
    "archive_raw": ArchiveParams("raw", 4, 30, 640, 360, 30, 2),
    "archive_mjpeg": ArchiveParams("mjpeg", 4, 8, 320, 180, 1, 1),
}
SMOKE_PARAMS = {
    "archive_raw": ArchiveParams("raw", 1, 30, 640, 360, 30, 1),
    "archive_mjpeg": ArchiveParams("mjpeg", 1, 3, 320, 180, 1, 1),
}
MIN_PASSES = 2
BRANCHES = ("record", "detect", "payload", "counters")


class Archive:
    def __init__(self, name: str, ctx):
        self.name = name
        self.ctx = ctx
        self.p = (SMOKE_PARAMS if ctx.smoke else PARAMS)[name]
        from uav_streamprocessor_spark.config import PipelineConfig

        self.cfg = PipelineConfig(keyframe_interval=self.p.keyframe_interval)
        self.timed_passes = 0
        self.layers: dict = {}

    # ---------------------------------------------------------------- inputs
    def _make_inputs(self) -> None:
        p, seed = self.p, self.ctx.seed
        self.cams = [f"cam{c}" for c in range(p.cameras)]
        if p.codec == "raw":
            self.source_seeds = [seed * 1000 + c for c in range(p.cameras)]
            self.spec = ",".join(
                f"synthetic://{cam}?frames={p.frames}&w={p.width}&h={p.height}&fps=25&seed={s}"
                for cam, s in zip(self.cams, self.source_seeds))
            return
        from uav_streamprocessor_spark.operators.jpeg import encode_jpeg
        from uav_streamprocessor_spark.sources.avi import FOURCC_MJPG, write_avi

        in_dir = self.ctx.run_dir / "inputs"
        in_dir.mkdir()
        self.jpegs, paths = {}, []
        for c, cam in enumerate(self.cams):
            self.jpegs[cam] = [encode_jpeg(img, quality=p.jpeg_quality, subsampling="4:2:0")
                               for img in aerial_frames(seed * 1000 + c, p.frames, p.height, p.width)]
            paths.append(write_avi(str(in_dir / f"{cam}.avi"), self.jpegs[cam], fps=25.0,
                                   fourcc=FOURCC_MJPG, width=p.width, height=p.height))
        self.spec = ",".join(paths)

    def _source_image(self, cam_index: int, frame: int):
        """The frame the source yields, decoded on the driver independently
        of Spark (the synthetic source draws frame i from seed*100003+i)."""
        if self.p.codec == "raw":
            from uav_streamprocessor_spark.operators.pixel import decode_image, make_test_image

            decode = decode_image
            buf = make_test_image(self.source_seeds[cam_index] * 100003 + frame,
                                  self.p.height, self.p.width)
        else:
            from uav_streamprocessor_spark.operators.jpeg import decode_jpeg

            decode = decode_jpeg
            buf = self.jpegs[self.cams[cam_index]][frame]
        t = time.perf_counter()
        img = decode(buf)
        self._decode_s.append(time.perf_counter() - t)
        return img

    def _expected(self) -> None:
        """Detections the pipeline must produce, computed on the driver with
        `letterbox_array` + `StubDetector` (after `decode_jpeg` for MJPG).
        Also times those calls for the per-layer metrics."""
        from uav_streamprocessor_spark.operators.pixel import StubDetector, letterbox_array

        p, cfg = self.p, self.cfg
        detector = StubDetector(cfg.confidence, cfg.classes)
        self._decode_s, lb_s, det_s = [], [], []
        self.exp_rows, self.exp_meta = [], {}
        for c, cam in enumerate(self.cams):
            for f in range(0, p.frames, p.keyframe_interval):
                img = self._source_image(c, f)
                t0 = time.perf_counter()
                boxed = letterbox_array(img, cfg.target_resolution)
                t1 = time.perf_counter()
                boxes = detector.detect(boxed)
                det_s.append(time.perf_counter() - t1)
                lb_s.append(t1 - t0)
                if self.ctx.expect_wrong and not self.exp_meta:
                    # positive control: one deliberately wrong expected box
                    boxes = boxes + [dict(x_min=0, y_min=0, x_max=1, y_max=1, confidence=0.5,
                                          class_id=0, class_name="person")]
                keys = ("x_min", "y_min", "x_max", "y_max", "confidence", "class_id", "class_name")
                if boxes:
                    self.exp_rows += [(cam, f, i) + tuple(b[k] for k in keys) for i, b in enumerate(boxes)]
                else:
                    self.exp_rows.append((cam, f) + (None,) * 8)
                self.exp_meta[(cam, f)] = {"frame_number": f, "detections": [
                    {"class_name": b["class_name"], "class_id": b["class_id"],
                     "confidence": round(b["confidence"], 4),
                     "box": [b["x_min"], b["y_min"], b["x_max"], b["y_max"]]} for b in boxes]}
        self.exp_rows.sort(key=repr)
        self.exp_keyframes = len(self.exp_meta)
        self.exp_detections = sum(1 for r in self.exp_rows if r[-1] is not None)
        self.layers.update({
            "pixel.decode_ms_per_frame": (1e3 * median(self._decode_s), "ms"),
            "pixel.letterbox_ms_per_frame": (1e3 * median(lb_s), "ms"),
            "pixel.detect_ms_per_frame": (1e3 * median(det_s), "ms"),
            "pixel.keyframes": (self.exp_keyframes, "count"),
            "pixel.detections": (self.exp_detections, "count"),
        })
        if p.codec == "mjpeg":
            from uav_streamprocessor_spark.sources.avi import AviFile

            demux_s = []
            for path in self.spec.split(","):
                t = time.perf_counter()
                avi = AviFile(path)
                for i in range(avi.n_frames):
                    avi.frame_bytes(i)
                demux_s.append((time.perf_counter() - t) / avi.n_frames)
            sizes = [len(b) for frames in self.jpegs.values() for b in frames]
            self.layers.update({
                "avi.demux_us_per_frame": (1e6 * median(demux_s), "us"),
                "jpeg.decode_ms_per_frame": (1e3 * median(self._decode_s), "ms"),
                "jpeg.bytes_per_frame": (sum(sizes) / len(sizes), "bytes"),
            })

    # ------------------------------------------------------------------ pass
    def _pass(self, spark, out: Path, label: str) -> tuple[int, int, int]:
        from pyspark.sql import functions as F

        from uav_streamprocessor_spark.plans.pipeline import (
            keyframe_detections_flat,
            recorder_rows,
            sender_payloads,
        )

        span, cfg = self.ctx.tracer.span, self.cfg
        frames = spark.read.format("uav_video").option("path", self.spec).load()
        with span("pipeline.record", f"{label}record"):
            recorder_rows(frames, cfg).write.mode("overwrite").partitionBy(
                "camera_id").parquet(str(out / "recorded"))
        with span("pipeline.detect", f"{label}detect"):
            keyframe_detections_flat(frames, cfg).write.mode("overwrite").partitionBy(
                "camera_id").parquet(str(out / "detections"))
        with span("pipeline.payload", f"{label}payload"):
            sender_payloads(frames, cfg).select("camera_id", "frame_number", "metadata").write.mode(
                "overwrite").json(str(out / "payloads"))
        with span("pipeline.counters", f"{label}counters"):
            rec = spark.read.parquet(str(out / "recorded"))
            total = rec.count()
            kf = rec.filter(F.col("frame_number") % cfg.keyframe_interval == 0).count()
            ndet = spark.read.parquet(str(out / "detections")).filter(
                F.col("class_name").isNotNull()).count()
        return total, kf, ndet

    def _check(self, out: Path, counters: tuple[int, int, int]) -> list[str]:
        """Problems with one pass's output; empty when it is right."""
        import pyarrow.parquet as pq

        p, problems = self.p, []
        rec = pq.read_table(out / "recorded", columns=["camera_id", "frame_number"]).to_pydict()
        per_cam: dict = {}
        for cam, f in zip(rec["camera_id"], rec["frame_number"]):
            per_cam.setdefault(str(cam), []).append(f)
        if {c: sorted(v) for c, v in per_cam.items()} != {c: list(range(p.frames)) for c in self.cams}:
            problems.append("recorded frames per camera differ from the input")
        det = pq.read_table(out / "detections").to_pylist()
        rows = sorted(((str(r["camera_id"]), r["frame_number"], r["pos"], r["x_min"], r["y_min"],
                        r["x_max"], r["y_max"], r["confidence"], r["class_id"], r["class_name"])
                       for r in det), key=repr)
        if rows != self.exp_rows:
            problems.append("detections differ from letterbox_array + StubDetector on the driver")
        meta = {}
        for path in sorted((out / "payloads").glob("*.json")):
            for line in path.read_text().splitlines():
                r = json.loads(line)
                meta[(r["camera_id"], r["frame_number"])] = json.loads(r["metadata"])
        if meta != self.exp_meta:
            problems.append("sender payload metadata differ from the expected keyframes")
        want = (p.cameras * p.frames,
                p.cameras * math.ceil(p.frames / p.keyframe_interval), self.exp_detections)
        if counters != want:
            problems.append(f"counters {counters} != expected {want}")
        return problems

    # ------------------------------------------------------------------- run
    def run(self, spark, process_t0: float) -> dict:
        from uav_streamprocessor_spark.sources import video_source

        ctx = self.ctx
        with ctx.tracer.span("video_source.register"):
            video_source.register(spark)
        self._make_inputs()
        out_root = ctx.run_dir / "out"
        warm = [self._pass(spark, out_root / f"warmup{i}", "warmup.") for i in range(self.p.warmup_passes)]
        setup_s = time.perf_counter() - process_t0

        self._expected()
        problems, attempted, failed = [], self.p.warmup_passes, 0
        for i, counters in enumerate(warm):
            found = self._check(out_root / f"warmup{i}", counters)
            failed, problems = failed + int(bool(found)), problems + found
            shutil.rmtree(out_root / f"warmup{i}")

        times: list[float] = []
        while len(times) < MIN_PASSES or sum(times) < ctx.seconds:
            out = out_root / f"pass{len(times)}"
            t = time.perf_counter()
            with ctx.tracer.span("pass"):
                counters = self._pass(spark, out, "")
            times.append(time.perf_counter() - t)
            found = self._check(out, counters)
            attempted, failed = attempted + 1, failed + int(bool(found))
            problems += found
            shutil.rmtree(out)
        self.timed_passes = len(times)

        if ctx.tracer.enabled:
            n_frames = self.p.cameras * self.p.frames
            scan = []
            for _ in range(3):
                t = time.perf_counter()
                with ctx.tracer.span("video_source.scan"):
                    spark.read.format("uav_video").option("path", self.spec).load().write.format(
                        "noop").mode("overwrite").save()
                scan.append(time.perf_counter() - t)
            self.layers["video_source.scan_s"] = (median(scan), "s")
            self.layers["source.scan_ms_per_frame"] = (1e3 * median(scan) / n_frames, "ms")
            for b in BRANCHES:
                self.layers[f"pipeline.{b}_s"] = (median(ctx.tracer.durations(f"pipeline.{b}")[self.p.warmup_passes:]), "s")

        wall = median(times)
        return {
            "params": asdict(self.p),
            "attempted": attempted,
            "failed": failed,
            "problems": problems,
            "metrics": {
                "setup_s": (setup_s, "s"),
                "frames_per_s": (self.p.cameras * self.p.frames / wall, "1/s"),
                "latency_p50_s": (wall, "s"),  # one pass, input to written result
                "latency_p90_s": (p90(times), "s"),
            },
            "samples": len(times),
            "detail": {"pass_s": [round(t, 3) for t in times]},
        }

    def eventlog_layers(self, totals: dict) -> dict:
        """Per-pass averages of the event-log reduction over the timed passes."""
        n = max(self.timed_passes, 1)
        layers = {}
        for b in BRANCHES:
            t = totals.get(b, {})
            for k, v in t.items():
                layers[f"el.{b}.{k}"] = (v / n, eventlog_unit(k))
        pass_sum = {k: sum(totals.get(b, {}).get(k, 0.0) for b in BRANCHES) / n
                    for k in ("py_bytes_sent", "py_bytes_returned", "cpu_s")}
        detect_rows = totals.get("detect", {}).get("scan_rows", 0.0) / n
        n_frames = self.p.cameras * self.p.frames
        layers.update({
            "pipeline.python_bytes_sent": (pass_sum["py_bytes_sent"], "bytes"),
            "pipeline.python_bytes_returned": (pass_sum["py_bytes_returned"], "bytes"),
            "pipeline.python_bytes_sent_per_frame": (pass_sum["py_bytes_sent"] / n_frames, "bytes"),
            "pipeline.python_bytes_returned_per_frame": (pass_sum["py_bytes_returned"] / n_frames, "bytes"),
            "pipeline.executor_cpu_ms_per_frame": (1e3 * pass_sum["cpu_s"] / n_frames, "ms"),
            "pipeline.frames_decoded_per_keyframe": (detect_rows / self.exp_keyframes, "ratio"),
        })
        return layers
