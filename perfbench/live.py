"""Open-loop live feed through the streaming pipeline.

A generator thread moves one parquet file of `cameras x frames_per_file`
frames into a watched directory on a fixed schedule that does not slow
down when Spark does: the gaps between files are drawn from the seed,
uniform in [0.75, 1.25] x `period_s`, so arrivals fall at every phase of
the trigger clock. The files are written
to a staging directory before the feed starts, so a move is one atomic
`os.rename`. Two queries on a `processingTime` trigger read the directory
with `spark.readStream.schema(FRAME_DDL).parquet`:

- `recorder_rows_stream` -> `OrderedRecorderSink(fmt="jsonl")`
- `sender_payloads` -> `HttpSenderSink`, which posts every keyframe to a
  single-threaded HTTP receiver in this process.

The first `warmup_files` files are the warm-up: they are moved in one at
a time, each once the previous one has been recorded and all its
keyframes received. The fixed schedule starts after them. A keyframe's
delivery latency is the time the receiver got its POST minus the
scheduled move time of the file that carried the frame; warm-up
keyframes are left out.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from dataclasses import asdict, dataclass
from http.server import BaseHTTPRequestHandler, HTTPServer
from pathlib import Path

import numpy as np

from harness import eventlog_unit, median, p90
from inputs import aerial_frames


@dataclass(frozen=True)
class LiveParams:
    cameras: int
    frames_per_file: int
    width: int
    height: int
    keyframe_interval: int
    period_s: float
    warmup_files: int
    min_keyframes: int  # scheduled keyframes, so that >= 10 lie beyond p90
    trigger: str


PARAMS = LiveParams(4, 25, 320, 180, 5, 2.0, 2, 120, "0.2 seconds")
SMOKE_PARAMS = LiveParams(1, 25, 320, 180, 5, 2.0, 1, 10, "0.2 seconds")
POOL = 25  # distinct frames per camera; frame f shows pool[f % POOL]
STREAM_FIELDS = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
                 "planning_ms": "queryPlanning", "wal_commit_ms": "walCommit"}


class _Receiver(HTTPServer):
    """Single-threaded HTTP endpoint standing in for the command center:
    keeps (arrival time, metadata) for every POST."""

    def __init__(self):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.posts: list[tuple[float, str]] = []
        self.bad = 0


class _Handler(BaseHTTPRequestHandler):
    def do_POST(self):
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        t = time.perf_counter()
        try:
            self.server.posts.append((t, json.loads(body)["metadata"]))
        except (ValueError, KeyError):
            self.server.bad += 1
        self.send_response(200)
        self.send_header("Content-Length", "0")
        self.end_headers()

    def log_message(self, *args):  # keep stdout clean
        pass


class Live:
    def __init__(self, name: str, ctx):
        self.name = name
        self.ctx = ctx
        self.p = SMOKE_PARAMS if ctx.smoke else PARAMS
        from uav_streamprocessor_spark.config import PipelineConfig

        self.cfg = PipelineConfig(keyframe_interval=self.p.keyframe_interval)
        kf_per_file = self.p.cameras * self.p.frames_per_file / self.p.keyframe_interval
        measured = max(round(ctx.seconds / self.p.period_s),
                       math.ceil(self.p.min_keyframes / kf_per_file))
        self.n_files = self.p.warmup_files + measured
        gaps = np.random.default_rng(ctx.seed).uniform(0.75, 1.25, measured)
        gaps *= measured * self.p.period_s / gaps.sum()  # the mean rate is fixed
        self.offsets = np.concatenate([[0.0], np.cumsum(gaps)[:-1]]).tolist()
        self.layers: dict = {}

    # ---------------------------------------------------------------- inputs
    def _make_inputs(self) -> None:
        """Stage every file of the feed and compute, on the driver, the
        metadata each keyframe must arrive with."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from uav_streamprocessor_spark.operators.pixel import (
            StubDetector,
            decode_image,
            encode_image,
            letterbox_array,
        )

        p, cfg, seed = self.p, self.cfg, self.ctx.seed
        self.cams = [f"cam{c}" for c in range(p.cameras)]
        pool = {cam: [encode_image(img) for img in aerial_frames(seed * 1000 + c, POOL, p.height, p.width)]
                for c, cam in enumerate(self.cams)}
        detector = StubDetector(cfg.confidence, cfg.classes)
        dec_s, lb_s, det_s = [], [], []
        detections: dict = {}

        def expected_meta(cam: str, f: int) -> str:
            key = (cam, f % POOL)
            if key not in detections:
                t0 = time.perf_counter()
                img = decode_image(pool[cam][f % POOL])
                t1 = time.perf_counter()
                boxed = letterbox_array(img, cfg.target_resolution)
                t2 = time.perf_counter()
                boxes = detector.detect(boxed)
                det_s.append(time.perf_counter() - t2)
                dec_s.append(t1 - t0)
                lb_s.append(t2 - t1)
                detections[key] = [
                    {"class_name": b["class_name"], "class_id": b["class_id"],
                     "confidence": round(b["confidence"], 4),
                     "box": [b["x_min"], b["y_min"], b["x_max"], b["y_max"]]} for b in boxes]
            return _canonical({"frame_number": f, "detections": detections[key]})

        self.staging = self.ctx.run_dir / "staging"
        self.watch = self.ctx.run_dir / "watch"
        self.staging.mkdir()
        self.watch.mkdir()
        schema = pa.schema([("camera_id", pa.string()), ("frame_number", pa.int64()),
                            ("width", pa.int32()), ("height", pa.int32()),
                            ("fps", pa.float64()), ("image", pa.binary())])
        self.expected: dict[int, list[str]] = {}  # frame_number -> sorted metadata, one per camera
        for i in range(self.n_files):
            frames = range(i * p.frames_per_file, (i + 1) * p.frames_per_file)
            rows = [(cam, f) for cam in self.cams for f in frames]
            pq.write_table(pa.table({
                "camera_id": [c for c, _ in rows],
                "frame_number": [f for _, f in rows],
                "width": [p.width] * len(rows),
                "height": [p.height] * len(rows),
                "fps": [25.0] * len(rows),
                "image": [pool[c][f % POOL] for c, f in rows],
            }, schema=schema), self.staging / f"part-{i:05d}.parquet", compression="none")
            for f in frames:
                if f % p.keyframe_interval == 0:
                    if self.ctx.expect_wrong and not self.expected:
                        self.expected[f] = []  # positive control: no keyframe expected
                        continue
                    self.expected[f] = sorted(expected_meta(cam, f) for cam in self.cams)
        self.layers.update({
            "pixel.decode_ms_per_frame": (1e3 * median(dec_s), "ms"),
            "pixel.letterbox_ms_per_frame": (1e3 * median(lb_s), "ms"),
            "pixel.detect_ms_per_frame": (1e3 * median(det_s), "ms"),
            "pixel.keyframes": (sum(len(v) for v in self.expected.values()), "count"),
            "pixel.detections": (sum(len(json.loads(m)["detections"])
                                     for v in self.expected.values() for m in v), "count"),
        })

    # ------------------------------------------------------------ generator
    def _move(self, i: int) -> None:
        name = f"part-{i:05d}.parquet"
        os.rename(self.staging / name, self.watch / name)

    def _due(self, t_feed: float, i: int) -> float:
        return t_feed + self.offsets[i - self.p.warmup_files]

    def _generate(self, t_feed: float) -> None:
        late = []
        for i in range(self.p.warmup_files, self.n_files):
            due = self._due(t_feed, i)
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            late.append(max(0.0, time.perf_counter() - due))
            self._move(i)
        self.late = late

    def _warm_up(self, receiver: _Receiver, record_query) -> None:
        """Feed the warm-up files one at a time, each once the pipeline
        has fully delivered the previous one."""
        p = self.p
        for i in range(p.warmup_files):
            self._move(i)
            frames_in = (i + 1) * p.frames_per_file * p.cameras
            posts_in = sum(len(v) for f, v in self.expected.items() if f < (i + 1) * p.frames_per_file)
            deadline = time.perf_counter() + 120
            while (len(receiver.posts) < posts_in
                   or sum(pr["numInputRows"] for pr in record_query.recentProgress) < frames_in):
                if time.perf_counter() > deadline:
                    raise TimeoutError(f"warm-up file {i} not delivered within 120 s")
                time.sleep(0.02)

    # ------------------------------------------------------------------- run
    def run(self, spark, process_t0: float) -> dict:
        from uav_streamprocessor_spark.plans.pipeline import sender_payloads
        from uav_streamprocessor_spark.sources.video_source import FRAME_DDL
        from uav_streamprocessor_spark.streaming.sinks import HttpSenderSink, OrderedRecorderSink
        from uav_streamprocessor_spark.streaming.uav_pipeline import recorder_rows_stream

        ctx, p, cfg = self.ctx, self.p, self.cfg
        self._make_inputs()
        receiver = _Receiver()
        recv_thread = threading.Thread(target=receiver.serve_forever, name="receiver", daemon=True)
        recv_thread.start()

        out = ctx.run_dir / "recorded"
        ckpt = ctx.run_dir / "checkpoints"
        recorder = OrderedRecorderSink(str(out), cfg, fmt="jsonl")
        sender = HttpSenderSink(f"http://127.0.0.1:{receiver.server_port}/frames", cfg)
        sink_s: dict[str, list[float]] = {"record": [], "send": []}

        def timed(name, sink):
            def call(batch, batch_id):
                with ctx.tracer.span(f"sinks.{name}_batch"):
                    t = time.perf_counter()
                    sink(batch, batch_id)
                    sink_s[name].append(time.perf_counter() - t)
            return call

        frames = spark.readStream.schema(FRAME_DDL).parquet(str(self.watch))
        queries = {}
        for name, df, sink in (("record", recorder_rows_stream(frames, cfg, fmt="jsonl"), recorder),
                               ("send", sender_payloads(frames, cfg), sender)):
            queries[name] = (df.writeStream.queryName(name).foreachBatch(timed(name, sink))
                             .option("checkpointLocation", str(ckpt / name))
                             .trigger(processingTime=p.trigger).start())
        self.query_labels = {q.id: name for name, q in queries.items()}

        try:
            with ctx.tracer.span("stream.warmup"):
                self._warm_up(receiver, queries["record"])
            setup_s = time.perf_counter() - process_t0
            t_feed = time.perf_counter()
            gen = threading.Thread(target=self._generate, args=(t_feed,), name="generator")
            with ctx.tracer.span("generator.feed"):
                gen.start()
                gen.join()
                backlog = self.n_files - min(self._files_consumed(q) for q in queries.values())
            with ctx.tracer.span("stream.drain"):
                for q in queries.values():
                    q.processAllAvailable()
        finally:
            for q in queries.values():
                q.stop()
            receiver.shutdown()
            recv_thread.join()
            receiver.server_close()

        # ---------------------------------------------------- outside timing
        problems = self._check(receiver, out, sender)
        first = p.warmup_files * p.frames_per_file
        sched = {f: self._due(t_feed, f // p.frames_per_file) for f in self.expected if f >= first}
        by_file: dict[int, list[float]] = {}
        for t, f in ((t, json.loads(s)["frame_number"]) for t, s in receiver.posts):
            if f in sched:
                by_file.setdefault(f // p.frames_per_file, []).append(t - sched[f])
        lat = [x for v in by_file.values() for x in v]
        last = max(t for t, _ in receiver.posts)
        measured_frames = (self.n_files - p.warmup_files) * p.frames_per_file * p.cameras

        self.layers.update({
            "sinks.record_batch_s": (median(sink_s["record"]), "s"),
            "sinks.send_batch_s": (median(sink_s["send"]), "s"),
            "sinks.sent": (sender.sent, "count"),
            "sinks.errors": (sender.errors, "count"),
            "stream.backlog_files_end": (backlog, "count"),
            "generator.late_max_s": (max(self.late), "s"),
        })
        for name, q in queries.items():
            progress = [pr for pr in q.recentProgress if pr["numInputRows"] > 0]
            for metric, key in STREAM_FIELDS.items():
                self.layers[f"stream.{name}.{metric}"] = (
                    median([pr["durationMs"].get(key, 0) for pr in progress]), "ms")
            self.layers[f"stream.{name}.rows_per_batch"] = (
                median([pr["numInputRows"] for pr in progress]), "count")
        if ctx.tracer.enabled:
            self._scan_layer(spark)

        attempted = len(self.expected) * p.cameras + 1  # every keyframe, plus the recorder check
        return {
            "params": asdict(p) | {"files": self.n_files},
            "attempted": attempted,
            "failed": min(len(problems), attempted),
            "problems": problems,
            "metrics": {
                "setup_s": (setup_s, "s"),
                "latency_p50_s": (median(lat), "s"),
                "latency_p90_s": (p90(lat), "s"),
                "frames_per_s": (measured_frames / (last - t_feed), "1/s"),
            },
            "samples": len(lat),
            "detail": {"latency_by_file": {i: round(median(v), 3) for i, v in sorted(by_file.items())}},
        }

    def _files_consumed(self, query) -> int:
        rows = sum(pr["numInputRows"] for pr in query.recentProgress)
        return rows // (self.p.frames_per_file * self.p.cameras)

    def _check(self, receiver: _Receiver, out: Path, sender) -> list[str]:
        """Every generated keyframe arrived once per camera with the
        expected metadata, nothing else arrived, and every frame was
        recorded."""
        problems = []
        got: dict[int, list[str]] = {}
        for _, s in receiver.posts:
            try:
                meta = json.loads(s)
                got.setdefault(meta["frame_number"], []).append(_canonical(meta))
            except (ValueError, KeyError):
                receiver.bad += 1
        for f, want in self.expected.items():
            if sorted(got.get(f, [])) != want:
                problems.append(f"keyframe {f}: received {len(got.get(f, []))} posts, "
                                f"want {len(want)} with the expected metadata")
        extra = set(got) - set(self.expected)
        if extra:
            problems.append(f"{len(extra)} unexpected frame numbers posted")
        if receiver.bad or sender.errors:
            problems.append(f"{receiver.bad} unreadable posts, {sender.errors} sender errors")
        recorded: dict[str, list[int]] = {}
        for path in out.glob("*.jsonl"):
            cam = path.name.split(".b")[0]
            recorded.setdefault(cam, []).extend(
                json.loads(line)["frame_number"] for line in path.read_text().splitlines())
        n = self.n_files * self.p.frames_per_file
        if {c: sorted(v) for c, v in recorded.items()} != {c: list(range(n)) for c in self.cams}:
            problems.append("recorded frames per camera differ from the feed")
        return problems

    def _scan_layer(self, spark) -> None:
        """Source-only pass over the whole feed, per frame."""
        from uav_streamprocessor_spark.sources.video_source import FRAME_DDL

        n = self.n_files * self.p.frames_per_file * self.p.cameras
        runs = []
        for _ in range(3):
            t = time.perf_counter()
            with self.ctx.tracer.span("source.scan"):
                spark.read.schema(FRAME_DDL).parquet(str(self.watch)).write.format(
                    "noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t)
        self.layers["source.scan_ms_per_frame"] = (1e3 * median(runs) / n, "ms")

    def eventlog_layers(self, totals: dict) -> dict:
        """Whole-run event-log figures of both queries, per input frame."""
        n = self.n_files * self.p.frames_per_file * self.p.cameras
        both = {k: sum(totals.get(q, {}).get(k, 0.0) for q in ("record", "send"))
                for k in ("py_bytes_sent", "py_bytes_returned", "cpu_s")}
        keyframes = sum(len(v) for v in self.expected.values())
        return {
            "pipeline.frames_decoded_per_keyframe": (
                totals.get("send", {}).get("scan_rows", 0.0) / keyframes, "ratio"),
            "pipeline.python_bytes_sent_per_frame": (both["py_bytes_sent"] / n, "bytes"),
            "pipeline.python_bytes_returned_per_frame": (both["py_bytes_returned"] / n, "bytes"),
            "pipeline.executor_cpu_ms_per_frame": (1e3 * both["cpu_s"] / n, "ms"),
        } | {f"el.{q}.{k}": (v, eventlog_unit(k)) for q in ("record", "send")
             for k, v in totals.get(q, {}).items()}


def _canonical(meta: dict) -> str:
    return json.dumps(meta, sort_keys=True)
