"""Custom Python DataSource for video ingestion (SURVEY.md §2 ops S2/S3;
§7 'What's hard' #1).

Spark has no video decode; the reference uses cv2.VideoCapture for files
(uav/frame_reader.py:116-155) and RTSP (uav/frame_reader.py:158-199). The
engine's adapter is a Spark 4 `pyspark.sql.datasource.DataSource`:

- batch: `spark.read.format("uav_video").option("path", ...)` — one
  partition per video/segment, frames decoded inside the partition reader
  (executor-side, parallel across files — the reference decodes serially).
  Filters on camera_id / frame_number are pushed into the reader:
  camera_id prunes whole sources, frame_number prunes to a sparse seek
  plan. `register` turns on the runtime conf Spark requires for that.
- stream: `spark.readStream.format("uav_video")` — a
  `DataSourceStreamReader` whose offsets are frame indices; each
  micro-batch decodes a bounded frame range (at-least-once on replay).

Decoder dispatch (`_open_decoder`): `synthetic://` specs produce
deterministic raw-tensor frames from a seed; `*.avi` files demux
CODEC-FREE through the pure-Python RIFF parser (sources/avi.py) — real
container bytes, real pixels for uncompressed DIB streams, un-gated in
this container; everything else tries the cv2-backed decoder, which is
presence-gated because no codec ships here. The plumbing — partition
planning, offset management, Arrow row emission, schema — is identical
across all three and fully tested.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    EqualTo,
    In,
    InputPartition,
)
from pyspark.sql.types import StructType

FRAME_DDL = (
    "camera_id string, frame_number bigint, width int, height int, "
    "fps double, image binary"
)


class _SyntheticDecoder:
    """Deterministic stand-in for cv2.VideoCapture: synthesizes n_frames
    raw-tensor frames from the source spec `synthetic://<camera>?frames=N
    &w=W&h=H&fps=F&seed=S[&gen=md5]`.

    Two generators: the default MT19937 noise (`make_test_image`, fast,
    engine-only) and `gen=md5` — md5-chained bytes keyed
    `<camera_id>:<frame>:<chunk>` (`make_md5_image`), byte-identical to
    what DuckDB regenerates with md5() hex parsing. The md5 lane is what
    lets `uav_pixel_moments` carry a FULL content oracle over the pixel
    path (VERDICT r15 #4): same plumbing, replayable pixels."""

    def __init__(self, spec: str):
        from urllib.parse import parse_qs, urlparse

        u = urlparse(spec)
        q = {k: v[0] for k, v in parse_qs(u.query).items()}
        self.camera_id = u.netloc or "cam0"
        self.n_frames = int(q.get("frames", "90"))
        self.width = int(q.get("w", "64"))
        self.height = int(q.get("h", "36"))
        self.fps = float(q.get("fps", "25"))
        self.seed = int(q.get("seed", "0"))
        self.gen = q.get("gen", "rng")

    def read(self, start: int, end: int) -> Iterator[tuple]:
        from uav_streamprocessor_spark.operators.pixel import (
            make_md5_image,
            make_test_image,
        )

        end = min(end, self.n_frames)
        for i in range(start, end):
            if self.gen == "md5":
                img = make_md5_image(
                    f"{self.camera_id}:{i}", self.height, self.width
                )
            else:
                img = make_test_image(
                    self.seed * 100003 + i, self.height, self.width
                )
            yield (
                self.camera_id,
                i,
                self.width,
                self.height,
                self.fps,
                img,
            )


class _Cv2Decoder:
    """cv2.VideoCapture-backed decoder — the real-codec drop-in behind
    `_open_decoder`. Mirrors the reference's open/probe/seek/read loop
    (uav/frame_reader.py:116-155): VideoCapture(path), fps/frame-count/
    size via CAP_PROP_*, CAP_PROP_POS_FRAMES seek, read() until ret is
    False. Frames re-encode through the engine codec (encode_image) so
    downstream pixel ops are byte-compatible with every other source.

    cv2 imports lazily at open time: no codec ships in this container, so
    the import normally fails and `_open_decoder` raises — the contract
    test injects a cv2-shaped module and this class runs unmodified.
    """

    def __init__(self, spec: str):
        import cv2  # deferred: resolves to whatever "cv2" is importable

        cap = cv2.VideoCapture(spec)
        if not cap.isOpened():  # reference: frame_reader.py:120-122
            raise IOError(f"cannot open video source {spec!r}")
        self._cv2 = cv2
        self._cap = cap
        self.spec = spec
        from pathlib import PurePath
        from urllib.parse import urlparse

        # camera id = file stem (reference names writers per source)
        self.camera_id = PurePath(urlparse(spec).path or spec).stem or "cam0"
        self.fps = float(cap.get(cv2.CAP_PROP_FPS)) or 0.0
        self.n_frames = int(cap.get(cv2.CAP_PROP_FRAME_COUNT))
        self.width = int(cap.get(cv2.CAP_PROP_FRAME_WIDTH))
        self.height = int(cap.get(cv2.CAP_PROP_FRAME_HEIGHT))

    def read(self, start: int, end: int) -> Iterator[tuple]:
        from uav_streamprocessor_spark.operators.pixel import encode_image

        cap = self._cap
        cap.set(self._cv2.CAP_PROP_POS_FRAMES, start)
        for i in range(start, min(end, self.n_frames)):
            ret, frame = cap.read()
            if not ret:  # truncated container: stop, don't fabricate
                break
            yield (
                self.camera_id,
                i,
                self.width,
                self.height,
                self.fps,
                encode_image(frame),
            )


class _AviDecoder:
    """Codec-free real-container decoder (VERDICT r11 #1): RIFF/AVI demux
    via sources/avi.py — pure container arithmetic, no cv2.

    Mirrors the reference's open/probe/seek/read contract
    (uav/frame_reader.py:116-155) against REAL files in THIS container:
    fps/size/frame-count from the AVI headers, random access via the
    idx1 index (the seek that CAP_PROP_POS_FRAMES gives the gated cv2
    path). Uncompressed DIB streams decode to real pixels (numpy
    flip/strip of the BI_RGB row layout) and re-encode through the
    engine codec so the full pixel pipeline runs downstream; UAVR
    chunks are the engine codec verbatim; MJPG chunks (r12) decode to
    real pixels through the pure-numpy baseline JPEG decoder
    (operators/jpeg.py) — the format UAV MJPEG cameras emit, handled
    with zero native dependencies; any other fourcc demuxes to its
    per-frame payload opaquely — container layer exercised, pixel
    decode behind the codec seam."""

    def __init__(self, spec: str):
        from uav_streamprocessor_spark.sources.avi import AviFile

        from pathlib import PurePath
        from urllib.parse import urlparse

        self._avi = AviFile(urlparse(spec).path or spec)
        self.camera_id = PurePath(self._avi.path).stem or "cam0"
        self.fps = self._avi.fps
        self.n_frames = self._avi.n_frames
        self.width = self._avi.width
        self.height = self._avi.height

    def read(self, start: int, end: int) -> Iterator[tuple]:
        from uav_streamprocessor_spark.operators.pixel import encode_image
        from uav_streamprocessor_spark.sources.avi import FOURCC_DIB, FOURCC_MJPG

        avi = self._avi
        end = min(end, self.n_frames)
        if avi.fourcc == FOURCC_DIB:
            to_buf = lambda i: encode_image(avi.frame_array(i))  # noqa: E731
        elif avi.fourcc == FOURCC_MJPG:
            from uav_streamprocessor_spark.operators.jpeg import decode_jpeg

            to_buf = lambda i: encode_image(  # noqa: E731
                decode_jpeg(avi.frame_bytes(i))
            )
        else:
            to_buf = avi.frame_bytes
        for i in range(start, end):
            yield (
                self.camera_id, i, self.width, self.height, self.fps,
                to_buf(i),
            )


def _open_decoder(spec: str):
    # ValueError, not NotImplementedError: Spark's planner reads a
    # NotImplementedError from partitions() as "no partitions" and hides it
    if not spec:
        raise ValueError(
            "empty video source spec in the 'path' option (an empty path "
            "or a stray comma)"
        )
    if spec.startswith("synthetic://"):
        return _SyntheticDecoder(spec)
    if spec.lower().endswith(".avi"):
        return _AviDecoder(spec)
    try:
        return _Cv2Decoder(spec)
    except ImportError:
        raise ValueError(
            f"no video codec in this container for {spec!r}; a cv2-backed "
            "decoder implements the same read(start, end) contract — and "
            "RIFF/AVI containers demux codec-free via _AviDecoder"
        ) from None


class _VideoPartition(InputPartition):
    def __init__(self, spec: str, start: int, end: int, frames: tuple = None):
        self.spec = spec
        self.start = start
        self.end = end
        # explicit frame list (sparse seek plan from frame_number
        # pushdown); None = the dense [start, end) range
        self.frames = frames


def _read_partition(partition: _VideoPartition) -> Iterator[tuple]:
    dec = _open_decoder(partition.spec)
    if partition.frames is not None:
        for f in partition.frames:
            yield from dec.read(f, f + 1)
        return
    yield from dec.read(partition.start, partition.end)


class VideoBatchReader(DataSourceReader):
    """Batch reader with filter pushdown (Spark 4 Python DataSource API):
    camera_id equality/IN prunes WHOLE SOURCES before any decode — the
    video analogue of partition pruning — and frame_number equality/IN
    prunes to a sparse seek plan, so every-Nth decimation expressed as an
    IN list decodes ONLY the keyframes (~1/30 of the decode work at the
    reference's default interval). Both columns are exact per row, so
    consumed filters are fully satisfied; everything else is yielded back
    for Spark to evaluate.

    Spark refuses any reader that defines pushFilters while Python
    filter pushdown is off; `register` turns it on at runtime, so
    vanilla sessions (the driver contract) load it too."""

    def __init__(self, options: dict):
        # comma-separated source specs; frames-per-partition for splitting
        self.specs = options.get("path", "").split(",")
        self.frames_per_partition = int(options.get("framesPerPartition", "1000"))
        self._camera_filter: set | None = None  # None = all cameras
        self._frame_filter: set | None = None  # None = all frames

    def pushFilters(self, filters):
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute == ("camera_id",):
                self._narrow({f.value})
            elif isinstance(f, In) and f.attribute == ("camera_id",):
                self._narrow(set(f.value))  # In.value is the tuple of values
            elif isinstance(f, EqualTo) and f.attribute == ("frame_number",):
                self._narrow_frames({f.value})
            elif isinstance(f, In) and f.attribute == ("frame_number",):
                self._narrow_frames(set(f.value))
            else:
                yield f

    def _narrow(self, cameras: set) -> None:
        # Intersect, don't overwrite: if Catalyst ever pushes two camera_id
        # conjuncts (EqualTo + In), both constraints must hold — assignment
        # would silently drop the first consumed filter.
        self._camera_filter = (
            cameras if self._camera_filter is None else self._camera_filter & cameras
        )

    def _narrow_frames(self, frames: set) -> None:
        frames = {int(f) for f in frames}
        self._frame_filter = (
            frames if self._frame_filter is None else self._frame_filter & frames
        )

    def partitions(self):
        parts = []
        for spec in self.specs:
            dec = _open_decoder(spec)
            if self._camera_filter is not None and dec.camera_id not in self._camera_filter:
                continue
            if self._frame_filter is not None:
                # sparse plan: one partition per frames_per_partition-sized
                # slice of the REQUESTED frames only — skipped frames are
                # never decoded (decimation pushdown, the keyframe
                # analogue of parquet row-group pruning)
                wanted = sorted(
                    f for f in self._frame_filter if 0 <= f < dec.n_frames
                )
                for s in range(0, len(wanted), self.frames_per_partition):
                    chunk = wanted[s : s + self.frames_per_partition]
                    parts.append(
                        _VideoPartition(
                            spec, chunk[0], chunk[-1] + 1, frames=tuple(chunk)
                        )
                    )
                continue
            for s in range(0, dec.n_frames, self.frames_per_partition):
                parts.append(
                    _VideoPartition(
                        spec, s, min(s + self.frames_per_partition, dec.n_frames)
                    )
                )
        return parts

    def read(self, partition: _VideoPartition | None):
        # Spark plans an empty partitions() list as one None partition
        if partition is not None:
            yield from _read_partition(partition)


class VideoStreamReader(DataSourceStreamReader):
    """Frame-index offsets: each micro-batch covers [start, end) frame
    ranges per source — replayable, so checkpoint recovery re-reads a
    batch (at-least-once; the reference's RTSP loop loses frames on
    crash, frame_reader.py:184-190).

    `latestOffset` reports FULL source availability (EOF). Earlier
    revisions advanced one `framesPerBatch` quantum per poll, but the
    Python DataSource API has no admission-control hook, so that (a)
    silently truncated availableNow drains to one quantum and (b) let a
    restarted reader report an offset BEHIND the committed checkpoint,
    regressing the offset log. Full availability fixes both; batch
    pacing belongs to the trigger, and `framesPerBatch` now sets the
    partition granularity WITHIN a batch (parallel decode across
    executors instead of one partition per source)."""

    def __init__(self, options: dict):
        self.specs = options.get("path", "").split(",")
        self.frames_per_batch = int(options.get("framesPerBatch", "30"))
        self._decoders = {s: _open_decoder(s) for s in self.specs}

    def initialOffset(self):
        return {s: 0 for s in self.specs}

    def latestOffset(self):
        return {s: dec.n_frames for s, dec in self._decoders.items()}

    def partitions(self, start: dict, end: dict):
        parts = []
        for s in self.specs:
            lo, hi = start.get(s, 0), end.get(s, 0)
            for ps in range(lo, hi, self.frames_per_batch):
                parts.append(
                    _VideoPartition(s, ps, min(ps + self.frames_per_batch, hi))
                )
        return parts

    def read(self, partition: _VideoPartition):
        yield from _read_partition(partition)

    def commit(self, end: dict):
        pass

    def stop(self):
        pass


class VideoDataSource(DataSource):
    """`uav_video` format: batch + streaming frame source."""

    @classmethod
    def name(cls) -> str:
        return "uav_video"

    def schema(self) -> str:
        return FRAME_DDL

    def reader(self, schema: StructType) -> DataSourceReader:
        return VideoBatchReader(self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return VideoStreamReader(self.options)


def register(spark) -> None:
    # runtime conf, set on every call (a caller may have turned it off
    # since): Spark refuses VideoBatchReader, which defines pushFilters,
    # while it is false, and it is off by default in Spark 4.1
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # idempotent per session: re-registering re-pickles the class and logs a
    # replacement WARN on every query call (the registered source is
    # session-held state, not per-query)
    if getattr(spark, "_uav_video_registered", False):
        return
    spark.dataSource.register(VideoDataSource)
    spark._uav_video_registered = True
