"""Streaming sinks (SURVEY.md §2 ops K1/K2; §7 M4).

The reference's sinks are a lazily-initialized MP4 writer
(uav/frame_processing.py:132-200) and a fire-and-forget HTTP POST
(uav/frame_processing.py:203-262, errors swallowed per frame → at-most-
once). The engine upgrades both to checkpointed foreachBatch sinks:
at-least-once delivery, per-row error tolerance preserved, and the K1
global-order requirement made explicit (per-batch orderBy + single
writer — SURVEY.md §7 'What's hard' #2).

Scale rules enforced here:

- K2 posts from EXECUTORS (foreachPartition): per-keyframe HTTP needs no
  global order, so binary payloads never move to the driver; sent/error
  counters travel back through accumulators.
- K1 needs one ordered writer PER CAMERA — not one global writer. Cameras
  are the parallelism unit (SCALE.md), so the batch is
  repartition(camera_id) + sortWithinPartitions(camera_id, frame_number)
  and each executor partition writes its cameras' files directly
  (foreachPartition) — no toLocalIterator, no driver funnel. Latched
  per-camera config persists to one sidecar file per camera (written
  atomically by the camera's owning partition) so a restarted sink keeps
  the reference's first-frame semantics (frame_processing.py:147-159)
  instead of re-latching.

This module is also the one place a stream reaches a store:
start_memory_sink (append to an in-memory table), start_foreach_batch
(foreachBatch under a checkpoint and availableNow), write_batch_partition
(the replay-idempotent src_batch=<batch_id> partition write) and
start_batch_store (the last two composed over a per-batch reduction).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from functools import partial
from pathlib import Path
from typing import Callable, NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from uav_streamprocessor_spark.config import DEFAULT_CONFIG, PipelineConfig
from uav_streamprocessor_spark.sources.avi import (
    FOURCC_DIB,
    FOURCC_MJPG,
    AviFile,
    AviStreamWriter,
)


def _default_post(url: str, image: bytes, metadata: str, timeout: float) -> int:
    """Module-level (picklable) default POST, runs on executors."""
    import urllib.request

    req = urllib.request.Request(
        url,
        data=json.dumps({"metadata": metadata, "n_bytes": len(image or b"")}).encode(),
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return resp.status


class HttpSenderSink:
    """K2 FrameSender as foreachBatch: POSTs each keyframe row's payload
    to `url` with a bounded timeout; per-row failures are recorded, not
    fatal (the reference swallows them at frame granularity,
    frame_processing.py:257-262 — here they're counted and surfaced).

    Delivery is at-least-once: a batch retried after a sink crash re-sends
    rows (the reference is at-most-once; the delta is documented, not
    hidden). `post` is injectable for tests/no-network containers — it is
    pickled to executors, so it must be self-contained.

    POSTs run on executors via foreachPartition: frame payloads are never
    collected to the driver (a driver OOM at the 100 TB design point), and
    `sent`/`errors` aggregate through Spark accumulators.
    """

    def __init__(
        self,
        url: str,
        cfg: PipelineConfig = DEFAULT_CONFIG,
        post: Callable[[str, bytes, str, float], int] | None = None,
    ) -> None:
        # URL validation as in the reference (frame_processing.py:208-209)
        if not url.startswith(("http://", "https://")):
            raise ValueError(f"target URL must be http(s)://, got {url!r}")
        self.url = url
        self.cfg = cfg
        self.post = post
        self._sent_acc = None
        self._err_acc = None

    @property
    def sent(self) -> int:
        return self._sent_acc.value if self._sent_acc is not None else 0

    @property
    def errors(self) -> int:
        return self._err_acc.value if self._err_acc is not None else 0

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        if self._sent_acc is None:
            sc = batch.sparkSession.sparkContext
            self._sent_acc = sc.accumulator(0)
            self._err_acc = sc.accumulator(0)
        post = self.post or _default_post
        timeout = self.cfg.http_timeout_s
        url = self.url
        sent_acc, err_acc = self._sent_acc, self._err_acc

        def send_partition(rows):
            n_sent = n_err = 0
            for r in rows:
                try:
                    status = post(url, r["frame_jpeg"], r["metadata"], timeout)
                    if status >= 400:
                        raise OSError(f"HTTP {status}")
                    n_sent += 1
                except Exception:
                    n_err += 1  # skip-and-continue per row
            sent_acc.add(n_sent)
            err_acc.add(n_err)

        batch.select("frame_number", "frame_jpeg", "metadata").foreachPartition(
            send_partition
        )


class _JsonlCameraWriter:
    """Default per-camera recorder: frame-metadata JSONL (the
    codec-free recorder output this container can produce).

    The filename is built by APPENDING `.b{batch}.jsonl` to the camera
    id, never Path.with_suffix — camera ids come from file stems / rtsp
    netlocs (video_source.py) and may legitimately contain dots
    ('10.0.0.5', 'flight.2024'); with_suffix would collapse '10.0.0.5'
    and '10.0.0.7' into one file. Output is SEGMENTED per micro-batch
    and opened in truncate mode, same as the mp4 path: foreachBatch is
    at-least-once, so a replayed batch overwrites its OWN segment
    instead of appending duplicate rows to a shared file — replay-
    idempotent by construction. `reassemble_segments` recovers the
    single `{cam}.jsonl` deliverable (plain byte concat is valid for
    line-delimited JSON, unlike mp4)."""

    def __init__(self, out: Path, cam: str, batch_id: int, w: int, h: int,
                 fps: float):
        _check_camera_id(cam)
        self._f = open(out / f"{cam}.b{batch_id:06d}.jsonl", "w")
        self._w, self._h, self._fps = w, h, fps

    def write(self, row) -> None:
        self._f.write(
            json.dumps(
                {
                    "frame_number": row["frame_number"],
                    "w": self._w,
                    "h": self._h,
                    "fps": self._fps,
                }
            )
            + "\n"
        )

    def close(self) -> None:
        self._f.close()


class _Mp4CameraWriter:
    """cv2.VideoWriter-backed mux — K1's REAL codec path (reference
    frame_processing.py:142-159: lazily-initialized VideoWriter per
    source, mp4v fourcc, size latched from the first frame). Selected
    with OrderedRecorderSink(fmt="mp4"); cv2 imports lazily executor-
    side, so environments that ship a codec self-upgrade and this
    container's presence-gated smoke test skips cleanly
    (tests/test_codec_present_smoke.py).

    Output is SEGMENTED per micro-batch: `{cam}.b{batch_id:06d}.mp4`.
    cv2.VideoWriter truncates an existing file on open, so a single
    `{cam}.mp4` reopened every foreachBatch call would silently drop
    all earlier batches' frames; per-batch segments make each open a
    fresh file (and make replayed batches overwrite their OWN segment
    — idempotent, not corrupting). Lexicographic segment order equals
    batch order, so a REMUX-based concat (`reassemble_segments` below,
    or ffmpeg's concat demuxer) recovers the reference's single-file
    deliverable in frame order — note mp4 segments are NOT byte-
    concatenatable (each carries its own moov header; `cat` yields a
    file where only the first segment plays). The extension is
    appended, never substituted:
    dotted camera ids ('10.0.0.5') must not collapse (with_suffix
    would merge '10.0.0.5' and '10.0.0.7')."""

    def __init__(self, out: Path, cam: str, batch_id: int, w: int, h: int,
                 fps: float):
        _check_camera_id(cam)
        import cv2  # deferred: only the mp4 fmt needs a codec

        from uav_streamprocessor_spark.operators.pixel import decode_image

        self._decode = decode_image
        path = out / f"{cam}.b{batch_id:06d}.mp4"
        self._vw = cv2.VideoWriter(
            str(path),
            cv2.VideoWriter_fourcc(*"mp4v"),
            fps or 25.0,
            (w, h),
        )
        if not self._vw.isOpened():  # reference: frame_processing.py:156
            raise IOError(f"cannot open VideoWriter for {path}")

    def write(self, row) -> None:
        import numpy as np

        # decode_image returns a read-only frombuffer view; hand the
        # encoder its own writable copy (one frame, bounded)
        self._vw.write(np.ascontiguousarray(self._decode(row["image"])).copy())

    def close(self) -> None:
        self._vw.release()


class _AviCameraWriter:
    """Codec-free REAL-VIDEO recorder — the K1 deliverable this container
    can actually produce and play back (VERDICT r11 #1 follow-through:
    the demuxer gave S2/S3 real container bytes; this gives K1 the same).

    Frames decode from the engine raw-tensor buffer (pixel.decode_image)
    and mux via sources/avi.AviStreamWriter — pure container arithmetic,
    no cv2, no native codec; the output is a spec-correct AVI any player
    or the engine's own `uav_video` DataSource reads back. The fourcc
    picks the lane:

    - DIB (fmt="avi"): uncompressed BI_RGB chunks, pixel-exact round trip.
    - MJPG (fmt="mjpeg"): each frame encodes to a real baseline JPEG
      (operators/jpeg.py, q=90 4:2:0) — the engine's analogue of the
      reference's compressed MP4 output (frame_processing.py:142-159),
      typically ~10-25x smaller than DIB; decodes back to pixels through
      operators/jpeg.decode_jpeg. reassemble_segments' chunk-level remux
      is fourcc-agnostic and stays LOSSLESS (the JPEG bytes pass through
      verbatim; the only loss is the original encode, like the cv2 mp4
      writer's).

    Same segment protocol as the other writers: `{cam}.b{batch:06d}.avi`
    for both lanes, truncate on open, replayed batches overwrite their
    own segment. Frames stream through one at a time (AviStreamWriter
    patches the header on close), so memory stays one-frame-bounded like
    the cv2 path."""

    quality = 90  # JPEG quality of the MJPG lane

    def __init__(self, out: Path, cam: str, batch_id: int, w: int, h: int,
                 fps: float, fourcc: str = FOURCC_DIB):
        _check_camera_id(cam)
        from uav_streamprocessor_spark.operators.pixel import decode_image

        self._decode = decode_image
        self._mjpg = fourcc == FOURCC_MJPG
        self._wr = AviStreamWriter(
            out / f"{cam}.b{batch_id:06d}.avi", w, h, fps=fps or 25.0,
            fourcc=fourcc,
        )

    def write(self, row) -> None:
        frame = self._decode(row["image"])
        if self._mjpg:
            from uav_streamprocessor_spark.operators.jpeg import encode_jpeg

            frame = encode_jpeg(frame, quality=self.quality, subsampling="4:2:0")
        self._wr.write_frame(frame)

    def close(self) -> None:
        self._wr.close()


class _RecorderFormat(NamedTuple):
    writer: Callable  # (out, cam, batch_id, w, h, fps) -> camera writer
    ext: str  # on-disk segment extension
    carries_image: bool  # the writer reads the frame's image bytes


# OrderedRecorderSink's fmt values. "mjpeg" shares the .avi container
# with the DIB lane; only the fourcc differs.
_FORMATS = {
    "jsonl": _RecorderFormat(_JsonlCameraWriter, "jsonl", False),
    "mp4": _RecorderFormat(_Mp4CameraWriter, "mp4", True),
    "avi": _RecorderFormat(_AviCameraWriter, "avi", True),
    "mjpeg": _RecorderFormat(
        partial(_AviCameraWriter, fourcc=FOURCC_MJPG), "avi", True
    ),
}
DEFAULT_FMT = "jsonl"


def recorder_columns(fmt: str) -> list[str]:
    """The columns `fmt`'s camera writer reads. The image bytes ride
    along ONLY for the video formats — the jsonl metadata recorder must
    not drag pixel payloads through its shuffle."""
    cols = ["camera_id", "frame_number", "width", "height", "fps"]
    return cols + ["image"] if _FORMATS[fmt].carries_image else cols


# `{cam}.b{batch:06d}.{ext}` — the per-micro-batch segment naming shared
# by every camera writer. Camera ids ENDING in a literal ".bNNNNNN" are
# reserved and rejected at writer construction (ADVICE r11): a camera
# named 'camA.b000001' would produce a reassembled deliverable
# 'camA.b000001.jsonl' that a SECOND reassemble pass matches as a
# segment of camera 'camA' and concatenates into the wrong file.
_SEGMENT_RE = re.compile(
    r"^(?P<cam>.+)\.b(?P<batch>\d{6})\.(?P<ext>%s)$"
    % "|".join(sorted({f.ext for f in _FORMATS.values()}))
)
_RESERVED_CAM_RE = re.compile(r"\.b\d{6}$")


def _check_camera_id(cam: str) -> str:
    if _RESERVED_CAM_RE.search(cam):
        raise ValueError(
            f"camera id {cam!r} ends in the reserved segment suffix "
            "'.bNNNNNN' — it would collide with per-batch segment names "
            "and corrupt reassemble_segments output"
        )
    return cam


def reassemble_segments(
    out_dir: str, fmt: str = DEFAULT_FMT, keep_segments: bool = True
) -> dict:
    """Recover the reference's single-file-per-camera deliverable
    (uav/frame_processing.py:142-159 writes ONE mp4 per source) from the
    per-micro-batch segments the recorder sink emits.

    Lexicographic segment order equals batch order (zero-padded batch
    ids), so concatenation preserves frame order. jsonl segments are
    line-delimited and byte-concatenate directly; avi segments remux
    LOSSLESSLY at the chunk level (AviFile payload passthrough into one
    AviStreamWriter — container arithmetic, frame bytes untouched, no
    codec); mp4 segments each carry their own container header, so that
    path REMUXES via cv2 (VideoCapture per segment → one VideoWriter),
    lazily imported and therefore presence-gated like the writer itself.
    Re-running is idempotent while segments are kept: the destination is
    rebuilt from scratch each call.

    Returns {camera_id: {"segments": n, "reencoded": bool,
    "fps_fallback": bool}} — the mp4 path is a decode→re-encode concat
    (generation loss, "reencoded": True) and substitutes 25.0 fps when
    segment 0 reports CAP_PROP_FPS == 0 ("fps_fallback": True), so
    callers can DETECT a degraded deliverable instead of it being
    silently masked (ADVICE r11). The jsonl byte-concat and the avi
    chunk remux are lossless: "reencoded" is always False there, and
    "fps_fallback" only flags an avi whose segment-0 header carries
    fps == 0.
    """
    ext = _FORMATS[fmt].ext
    out = Path(out_dir)
    by_cam: dict = {}
    for p in sorted(out.iterdir()):
        m = _SEGMENT_RE.match(p.name)
        if m and m.group("ext") == ext:
            by_cam.setdefault(m.group("cam"), []).append(p)
    result: dict = {}
    for cam, segs in by_cam.items():
        dest = out / f"{cam}.{ext}"
        if ext == "jsonl":
            with open(dest, "wb") as f:
                for s in segs:
                    f.write(s.read_bytes())
            result[cam] = {
                "segments": len(segs),
                "reencoded": False,
                "fps_fallback": False,
            }
        elif ext == "avi":
            result[cam] = {"segments": len(segs), **_remux_avi(segs, dest)}
        else:
            result[cam] = {"segments": len(segs), **_remux_mp4(segs, dest)}
        if not keep_segments:
            for s in segs:
                s.unlink()
    return result


def _remux_avi(segments: list, dest: Path) -> dict:
    """avi concat by chunk-level payload passthrough — LOSSLESS, no
    pixel decode, no codec: each segment's frame payloads are read via
    the demuxer's seek index and appended verbatim to one AviStreamWriter
    under segment 0's latched fourcc/size/fps (all segments of one
    camera share the writer's latched config, same invariant as mp4)."""
    first = AviFile(str(segments[0]))
    wr = AviStreamWriter(
        str(dest), first.width, first.height,
        fps=first.fps or 25.0, fourcc=first.fourcc,
    )
    try:
        for seg in segments:
            f = AviFile(str(seg))
            # the 'avi' (DIB) and 'mjpeg' lanes share the .avi segment
            # extension: appending a segment whose fourcc/geometry differ
            # from the latched header would silently produce a corrupt
            # deliverable (ADVICE r12) — refuse instead
            if (f.fourcc, f.width, f.height) != (
                first.fourcc, first.width, first.height
            ):
                raise ValueError(
                    f"segment {Path(str(seg)).name} is "
                    f"{f.fourcc}/{f.width}x{f.height} but segment 0 "
                    f"latched {first.fourcc}/{first.width}x{first.height}"
                    " — mixed recorder lanes in one out_dir cannot remux"
                )
            for payload in f.frames():
                wr.write_payload(payload)
    finally:
        wr.close()
    return {"reencoded": False, "fps_fallback": not first.fps}


def _remux_mp4(segments: list, dest: Path) -> dict:
    """mp4 concat by decode→re-encode (cv2 has no box-level remuxer;
    a production deployment would shell out to ffmpeg's concat demuxer
    to avoid the generation loss). Size/fps latch from segment 0 — all
    segments of one camera share the writer's latched config. Returns
    the degradation flags reassemble_segments surfaces (ADVICE r11)."""
    import cv2  # deferred: only the mp4 fmt needs a codec

    cap0 = cv2.VideoCapture(str(segments[0]))
    raw_fps = cap0.get(cv2.CAP_PROP_FPS)
    fps = raw_fps or 25.0
    w = int(cap0.get(cv2.CAP_PROP_FRAME_WIDTH))
    h = int(cap0.get(cv2.CAP_PROP_FRAME_HEIGHT))
    cap0.release()
    vw = cv2.VideoWriter(
        str(dest), cv2.VideoWriter_fourcc(*"mp4v"), fps, (w, h)
    )
    if not vw.isOpened():
        raise IOError(f"cannot open VideoWriter for {dest}")
    try:
        for seg in segments:
            cap = cv2.VideoCapture(str(seg))
            try:
                while True:
                    ok, frame = cap.read()
                    if not ok:
                        break
                    vw.write(frame)
            finally:
                cap.release()
    finally:
        vw.release()
    return {"reencoded": True, "fps_fallback": not raw_fps}


def _record_partition(
    rows, out_dir: str, fallback_fps: float, skipped_acc, fmt: str = DEFAULT_FMT,
    batch_id: int = 0,
) -> None:
    """Executor-side per-partition writer for OrderedRecorderSink.

    Rows arrive repartitioned by camera_id and sorted by (camera_id,
    frame_number), so every camera's rows are contiguous, in frame order,
    and owned by exactly one partition — one appender per camera, no
    cross-writer races. Module-level so it pickles cleanly.
    """
    import os

    writer_cls = _FORMATS[fmt].writer
    out = Path(out_dir)
    latch_dir = out / "_latch"
    latch_dir.mkdir(parents=True, exist_ok=True)
    latched: dict = {}
    open_files: dict = {}
    n_skipped = 0
    try:
        for r in rows:
            cam = r["camera_id"]
            if cam not in latched:
                lp = latch_dir / f"{cam}.json"
                if lp.exists():
                    try:
                        v = json.loads(lp.read_text())
                        latched[cam] = (v["w"], v["h"], v["fps"])
                    except (ValueError, KeyError):
                        pass  # truncated latch from a crash → re-latch below
                if cam not in latched:
                    fps = r["fps"]
                    latched[cam] = (
                        r["width"],
                        r["height"],
                        fps if fps and fps > 0 else fallback_fps,
                    )
                    w, h, fps = latched[cam]
                    tmp = latch_dir / f"{cam}.json.tmp"
                    tmp.write_text(json.dumps({"w": w, "h": h, "fps": fps}))
                    os.replace(tmp, lp)  # atomic: never a torn latch file
            w, h, fps = latched[cam]
            if (r["width"], r["height"]) != (w, h):
                n_skipped += 1
                continue
            if cam not in open_files:
                open_files[cam] = writer_cls(out, cam, batch_id, w, h, fps)
            open_files[cam].write(r)
    finally:
        for f in open_files.values():
            f.close()
    if skipped_acc is not None:
        skipped_acc.add(n_skipped)


@dataclass
class OrderedRecorderSink:
    """K1 FrameSaver as foreachBatch: appends frame rows to one file per
    camera in frame order.

    The reference relies on implicit arrival order (main.py:113); Spark
    partitions destroy that, so order is re-established per batch with
    repartition("camera_id") + sortWithinPartitions — each camera's rows
    land contiguous and frame-ordered inside exactly one partition, and
    that partition's executor writes the camera's file directly. Cameras
    are the parallelism unit (SCALE.md): N cameras → up to N concurrent
    writers, and no row ever moves to the driver (the r2-flagged
    driver-iterator funnel is gone). Config (size, fps) is latched from
    the first frame seen per camera, mirroring frame_processing.py:147-159;
    later size mismatches are skipped (:172-179) and counted via an
    accumulator. Each latch persists atomically (temp + os.replace) to
    `_latch/{camera}.json` under out_dir — shared storage at scale — so a
    restarted sink keeps the original per-camera config rather than
    re-latching from whatever frame arrives first after recovery.
    """

    out_dir: str
    cfg: PipelineConfig = field(default_factory=lambda: DEFAULT_CONFIG)
    # a _FORMATS key: "jsonl" (codec-free metadata recorder), "avi"
    # (codec-free REAL video: pure-Python DIB mux, playable output,
    # pixel-exact round-trip through the uav_video DataSource), "mjpeg"
    # (codec-free COMPRESSED video: real baseline JPEGs in MJPG-AVI
    # segments — the engine's analogue of the reference's compressed
    # output), or "mp4" (cv2.VideoWriter mux — requires a codec on the
    # executors). The video formats carry the image bytes through the
    # camera repartition, which is the reference's own data motion:
    # every frame reaches its writer. ALL formats emit one segment per
    # micro-batch ({cam}.b{batch_id:06d}.{ext}) so a replayed batch
    # overwrites its own segment (at-least-once → idempotent);
    # `reassemble_segments` recovers the single-file deliverable — see
    # the _*CameraWriter classes.
    fmt: str = DEFAULT_FMT
    _skipped_acc: object = field(default=None, repr=False)

    @property
    def skipped(self) -> int:
        return self._skipped_acc.value if self._skipped_acc is not None else 0

    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        Path(self.out_dir).mkdir(parents=True, exist_ok=True)
        if self._skipped_acc is None:
            self._skipped_acc = batch.sparkSession.sparkContext.accumulator(0)
        out_dir, fallback_fps, fmt = self.out_dir, self.cfg.fallback_fps, self.fmt
        acc = self._skipped_acc
        (
            batch.select(*recorder_columns(fmt))
            .repartition("camera_id")
            .sortWithinPartitions("camera_id", "frame_number")
            .foreachPartition(
                lambda rows: _record_partition(
                    rows, out_dir, fallback_fps, acc, fmt, batch_id
                )
            )
        )


def start_memory_sink(df: DataFrame, name: str, checkpoint) -> StreamingQuery:
    """Start df into the in-memory table `name` in append mode under an
    availableNow trigger: the query drains every micro-batch available
    at start, then stops. The state stores' tests and the streaming
    bench read their output this way."""
    return (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(checkpoint))
        .trigger(availableNow=True)
        .start()
    )


def start_foreach_batch(df: DataFrame, fn, checkpoint) -> StreamingQuery:
    """Start df into the foreachBatch function fn(batch, batch_id) under
    an availableNow trigger: the query drains every micro-batch available
    at start, then stops. The checkpoint makes delivery at-least-once: a
    batch whose commit was lost re-runs with the same batch_id."""
    return (
        df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", str(checkpoint))
        .trigger(availableNow=True)
        .start()
    )


def write_batch_partition(df: DataFrame, batch_id: int, store_dir) -> None:
    """Write df as the partition src_batch=<batch_id> of the parquet store
    at store_dir, replacing that partition and no other (dynamic partition
    overwrite).

    This is what makes an at-least-once foreachBatch store exactly-once
    in content: a micro-batch replayed after a crash rewrites its own
    partition instead of appending a second copy, and no other batch's
    rows are touched, so results neither duplicate nor vanish on replay.
    It holds while one checkpoint lineage writes the store: src_batch is
    that checkpoint's batch id, so a second stream with a fresh checkpoint
    would reuse ids from 0 and replace the first run's partitions."""
    (
        df.withColumn("src_batch", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("src_batch")
        .parquet(str(store_dir))
    )


def start_batch_store(
    stream: DataFrame, reduce, store_dir, checkpoint
) -> StreamingQuery:
    """Start a store whose micro-batch N writes reduce(batch) as the
    partition src_batch=N of store_dir (write_batch_partition), under the
    checkpoint and an availableNow trigger (start_foreach_batch)."""
    return start_foreach_batch(
        stream,
        lambda batch, batch_id: write_batch_partition(
            reduce(batch), batch_id, store_dir
        ),
        checkpoint,
    )
