"""Pixel-level UDF layer (SURVEY.md §2 ops T1/T2/T3, M3 of the build plan).

The reference does per-frame OpenCV calls in one Python thread
(uav/frame_processing.py:15-129); here the same transforms run as
Arrow-batched pandas UDFs / mapInPandas so pixels cross the JVM↔Python
boundary in columnar batches, not row-at-a-time.

No image codec ships in this container, so the engine uses a deterministic
raw-tensor "codec": images are uncompressed uint8 H*W*3 byte buffers with
an 8-byte (H, W) header — the Spark-side plumbing (binary columns, batch
shapes, UDF signatures, per-executor model lifecycle) is real and tested;
`cv2.imencode`-backed codecs drop in behind `encode_image`/`decode_image`.

The detector is the deterministic hash-based stub promised in SURVEY.md
§2 (T2): box geometry/confidence derive from a seed of the pixel checksum,
so results are reproducible and oracle-checkable via the detections table;
a YOLO model is a drop-in replacement for `_detect_batch` (same
per-executor load-once pattern, reference uav/frame_processing.py:70-76).
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from uav_streamprocessor_spark.config import DEFAULT_CONFIG, PipelineConfig
from uav_streamprocessor_spark.schemas import BBOX_STRUCT

_HEADER = struct.Struct("<II")  # (height, width), little-endian


def encode_image(arr: np.ndarray) -> bytes:
    """Raw-tensor encode: 8-byte (H, W) header + uint8 HxWx3 payload.
    Stand-in for cv2.imencode('.jpg', ...) (uav/frame_processing.py:221)."""
    h, w = arr.shape[:2]
    return _HEADER.pack(h, w) + arr.astype(np.uint8).tobytes()


def decode_image(buf: bytes) -> np.ndarray:
    """Stand-in for cv2.imdecode (uav/frame_reader.py:98)."""
    h, w = _HEADER.unpack_from(buf, 0)
    return np.frombuffer(buf, dtype=np.uint8, offset=_HEADER.size).reshape(h, w, 3)


def make_test_image(seed: int, height: int, width: int) -> bytes:
    """Deterministic synthetic image for fixtures/tests."""
    rng = np.random.RandomState(seed % (2**31))
    return encode_image(rng.randint(0, 256, size=(height, width, 3), dtype=np.uint8))


def md5_image_array(tag: str, height: int, width: int) -> np.ndarray:
    """Deterministic noise image from chained md5 digests keyed
    `<tag>:<chunk>` — the multimodal `_md5_noise` recipe applied to
    video frames. Engine-portable: DuckDB regenerates the exact bytes
    with `md5(tag || ':' || chunk)` hex parsing, which is what lets the
    pixel path carry a FULL content oracle (uav_pixel_moments)."""
    import hashlib

    n_bytes = height * width * 3
    buf = b"".join(
        hashlib.md5(f"{tag}:{i}".encode()).digest()
        for i in range(-(-n_bytes // 16))
    )
    return (
        np.frombuffer(buf[:n_bytes], dtype=np.uint8)
        .reshape(height, width, 3)
        .copy()
    )


def make_md5_image(tag: str, height: int, width: int) -> bytes:
    """`md5_image_array` in the engine's binary image encoding."""
    return encode_image(md5_image_array(tag, height, width))


def _best_resize():
    """Resize-kernel seam (VERDICT r10 #7): cv2.resize INTER_AREA when a
    cv2 build is present — the reference's kernel (uav/frame_processing.
    py:34) — else None → letterbox_array's nearest-neighbor fallback.
    Resolved lazily per Python worker; the import result is cached by
    the interpreter so per-batch resolution is free."""
    try:
        import cv2

        area = cv2.INTER_AREA  # AttributeError on partial stubs → fallback
        rz = cv2.resize
        return lambda img, size: rz(img, size, interpolation=area)
    except Exception:
        return None


def letterbox_array(img: np.ndarray, target: int = 640, resize=None) -> np.ndarray:
    """Reference letterbox semantics (uav/frame_processing.py:29-44):
    aspect-preserving resize + symmetric zero padding. `resize` is the
    kernel seam — a (img, (new_w, new_h)) -> array callable (cv2
    INTER_AREA via _best_resize when present, frame_processing.py:34);
    None uses nearest-neighbor, which keeps the container dependency-
    free. The GEOMETRY (scale, content slot, padding) is identical
    either way — only interpolated pixel values differ."""
    h, w = img.shape[:2]
    scale = min(target / w, target / h)
    # clamp to >=1 px (ADVICE r11): an extreme aspect ratio can floor one
    # side to 0, which cv2.resize raises on (tripping the UDF's raw-buffer
    # fallback) while the nearest path returned a valid all-padding frame
    # — the clamp makes both kernels agree on degenerate inputs
    new_w, new_h = max(1, int(w * scale)), max(1, int(h * scale))
    if resize is not None:
        resized = resize(img, (new_w, new_h))
    else:
        ys = (np.arange(new_h) / scale).astype(np.int64).clip(0, h - 1)
        xs = (np.arange(new_w) / scale).astype(np.int64).clip(0, w - 1)
        resized = img[ys][:, xs]
    pad_top = (target - new_h) // 2
    pad_left = (target - new_w) // 2
    out = np.zeros((target, target, 3), dtype=np.uint8)
    out[pad_top : pad_top + new_h, pad_left : pad_left + new_w] = resized
    return out


# 5×7 bitmap font (classic HD44780 shapes): 7 rows per glyph, each row a
# 5-bit int, MSB = leftmost column. Covers what detection labels need —
# letters (rendered uppercase), digits, ':', '.', space. This replaces
# the reference's cv2.putText/FONT_HERSHEY_SIMPLEX (frame_processing.py:
# 128-129) without a font stack: glyph SHAPES differ from Hershey but
# the semantics (label text baked into the pixel buffer at the
# reference's anchor) are closed.
_FONT_ROWS = {
    "A": (0x0E, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    "B": (0x1E, 0x11, 0x11, 0x1E, 0x11, 0x11, 0x1E),
    "C": (0x0E, 0x11, 0x10, 0x10, 0x10, 0x11, 0x0E),
    "D": (0x1E, 0x11, 0x11, 0x11, 0x11, 0x11, 0x1E),
    "E": (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x1F),
    "F": (0x1F, 0x10, 0x10, 0x1E, 0x10, 0x10, 0x10),
    "G": (0x0E, 0x11, 0x10, 0x17, 0x11, 0x11, 0x0F),
    "H": (0x11, 0x11, 0x11, 0x1F, 0x11, 0x11, 0x11),
    "I": (0x0E, 0x04, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "J": (0x07, 0x02, 0x02, 0x02, 0x02, 0x12, 0x0C),
    "K": (0x11, 0x12, 0x14, 0x18, 0x14, 0x12, 0x11),
    "L": (0x10, 0x10, 0x10, 0x10, 0x10, 0x10, 0x1F),
    "M": (0x11, 0x1B, 0x15, 0x15, 0x11, 0x11, 0x11),
    "N": (0x11, 0x19, 0x15, 0x13, 0x11, 0x11, 0x11),
    "O": (0x0E, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    "P": (0x1E, 0x11, 0x11, 0x1E, 0x10, 0x10, 0x10),
    "Q": (0x0E, 0x11, 0x11, 0x11, 0x15, 0x12, 0x0D),
    "R": (0x1E, 0x11, 0x11, 0x1E, 0x14, 0x12, 0x11),
    "S": (0x0F, 0x10, 0x10, 0x0E, 0x01, 0x01, 0x1E),
    "T": (0x1F, 0x04, 0x04, 0x04, 0x04, 0x04, 0x04),
    "U": (0x11, 0x11, 0x11, 0x11, 0x11, 0x11, 0x0E),
    "V": (0x11, 0x11, 0x11, 0x11, 0x11, 0x0A, 0x04),
    "W": (0x11, 0x11, 0x11, 0x15, 0x15, 0x15, 0x0A),
    "X": (0x11, 0x11, 0x0A, 0x04, 0x0A, 0x11, 0x11),
    "Y": (0x11, 0x11, 0x0A, 0x04, 0x04, 0x04, 0x04),
    "Z": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x10, 0x1F),
    "0": (0x0E, 0x11, 0x13, 0x15, 0x19, 0x11, 0x0E),
    "1": (0x04, 0x0C, 0x04, 0x04, 0x04, 0x04, 0x0E),
    "2": (0x0E, 0x11, 0x01, 0x02, 0x04, 0x08, 0x1F),
    "3": (0x1F, 0x02, 0x04, 0x02, 0x01, 0x11, 0x0E),
    "4": (0x02, 0x06, 0x0A, 0x12, 0x1F, 0x02, 0x02),
    "5": (0x1F, 0x10, 0x1E, 0x01, 0x01, 0x11, 0x0E),
    "6": (0x06, 0x08, 0x10, 0x1E, 0x11, 0x11, 0x0E),
    "7": (0x1F, 0x01, 0x02, 0x04, 0x08, 0x08, 0x08),
    "8": (0x0E, 0x11, 0x11, 0x0E, 0x11, 0x11, 0x0E),
    "9": (0x0E, 0x11, 0x11, 0x0F, 0x01, 0x02, 0x0C),
    ":": (0x00, 0x04, 0x00, 0x00, 0x00, 0x04, 0x00),
    ".": (0x00, 0x00, 0x00, 0x00, 0x00, 0x0C, 0x0C),
    " ": (0x00, 0x00, 0x00, 0x00, 0x00, 0x00, 0x00),
}
FONT_5X7 = {
    c: np.array(
        [[(r >> (4 - j)) & 1 for j in range(5)] for r in rows], dtype=bool
    )
    for c, rows in _FONT_ROWS.items()
}
_GLYPH_STEP = 6  # 5 columns + 1 gap


def draw_label(
    img: np.ndarray, text: str, x: int, y: int,
    color: tuple = (0, 255, 0),
) -> None:
    """Rasterize `text` into img with the 5×7 font, top-left at (x, y),
    clipped at image edges (the reference's y_min-10 anchor goes
    off-frame for boxes near the top, like cv2.putText). Letters render
    through their uppercase glyph; chars without a glyph are skipped."""
    h, w = img.shape[:2]
    col = np.asarray(color, dtype=np.uint8)
    for i, ch in enumerate(text):
        g = FONT_5X7.get(ch.upper())
        if g is None:
            continue
        ys, xs = np.nonzero(g)
        yy, xx = ys + y, xs + x + _GLYPH_STEP * i
        keep = (yy >= 0) & (yy < h) & (xx >= 0) & (xx < w)
        img[yy[keep], xx[keep]] = col


@pandas_udf(T.BinaryType())
def annotate_udf(images: pd.Series, boxes: pd.Series) -> pd.Series:
    """T3 _draw_boxes (uav/frame_processing.py:123-129): green box borders
    plus the '{class_name}: {confidence:.2f}' label (:126) rasterized at
    the reference's (x_min, y_min - 10) anchor (:128) with the bitmap
    font above — no font stack needed."""
    out = []
    for buf, bxs in zip(images, boxes):
        try:
            img = decode_image(bytes(buf)).copy()
            for b in bxs or []:
                x1, y1, x2, y2 = (
                    int(b["x_min"]), int(b["y_min"]), int(b["x_max"]), int(b["y_max"])
                )
                rx1, ry1 = x1, y1  # reference anchors the label at the
                # RAW x_min/y_min-10 (clipping happens at raster time)
                x1, x2 = max(x1, 0), min(x2, img.shape[1] - 1)
                y1, y2 = max(y1, 0), min(y2, img.shape[0] - 1)
                green = np.array([0, 255, 0], dtype=np.uint8)
                img[y1 : y2 + 1, [x1, x2]] = green
                img[[y1, y2], x1 : x2 + 1] = green
                # label only when the box carries the fields (geometry-
                # only box structs stay border-only)
                cls = b["class_name"] if "class_name" in b else None
                conf = b["confidence"] if "confidence" in b else None
                if cls is not None and conf is not None:
                    draw_label(img, f"{cls}: {conf:.2f}", rx1, ry1 - 10)
            out.append(encode_image(img))
        except Exception:
            out.append(buf)
    return pd.Series(out)


class StubDetector:
    """Deterministic detector: derives boxes from a checksum of the pixels.
    Mirrors the reference detector's contract (uav/frame_processing.py:
    60-129): conf threshold pushed into the call (:93), class whitelist
    (:103), int corner coords (:105-111), [] on error (:113-115)."""

    CLASSES = {2: "car", 0: "person", 7: "truck", 1: "bicycle", 16: "dog"}

    def __init__(self, confidence: float, classes: tuple[str, ...]):
        self.confidence = confidence
        self.class_ids = {i for i, n in self.CLASSES.items() if n in classes}

    def detect(self, img: np.ndarray) -> list[dict]:
        h, w = img.shape[:2]
        seed = int(img[::16, ::16].sum()) + h * 31 + w * 7
        n_boxes = seed % 4
        boxes = []
        for i in range(n_boxes):
            s = seed * 131 + i * 17
            conf = (s % 1000) / 1000.0
            cls_id = list(self.CLASSES)[s % 5]
            if conf < self.confidence or cls_id not in self.class_ids:
                continue
            x_min, y_min = s % max(w - 8, 1), (s * 3) % max(h - 8, 1)
            boxes.append(
                {
                    "x_min": int(x_min),
                    "y_min": int(y_min),
                    "x_max": int(min(x_min + 8 + s % 37, w)),
                    "y_max": int(min(y_min + 8 + s % 29, h)),
                    "confidence": conf,
                    "class_id": int(cls_id),
                    "class_name": self.CLASSES[cls_id],
                }
            )
        return boxes


def explode_detections(detected: DataFrame) -> DataFrame:
    """Flatten the 1:N nesting into the keyed detections table
    (SURVEY.md §1.3)."""
    return detected.select(
        "camera_id",
        "frame_number",
        F.posexplode_outer("detections").alias("pos", "d"),
    ).select("camera_id", "frame_number", "pos", "d.*")


def letterbox_and_detect(
    frames: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Fused T1+T2: decode → letterbox → detect → encode in ONE
    mapInPandas pass, so each image crosses the Arrow boundary once —
    the pixel path's dominant cost at scale."""
    out_schema = T.StructType(
        frames.schema.fields
        + [T.StructField("detections", T.ArrayType(BBOX_STRUCT), False)]
    )
    conf, classes = cfg.confidence, cfg.classes
    target = cfg.target_resolution

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        detector = StubDetector(conf, classes)
        rz = _best_resize()  # INTER_AREA where cv2 ships (ref parity)
        for pdf in batches:
            images, dets = [], []
            for buf in pdf["image"]:
                try:
                    boxed = letterbox_array(
                        decode_image(bytes(buf)), target, resize=rz
                    )
                    images.append(encode_image(boxed))
                    dets.append(detector.detect(boxed))
                except Exception:
                    images.append(buf)  # frame_processing.py:53-57 fallback
                    dets.append([])     # frame_processing.py:113-115 fallback
            pdf = pdf.copy()
            pdf["image"] = images
            pdf["detections"] = [
                [
                    (b["x_min"], b["y_min"], b["x_max"], b["y_max"],
                     b["confidence"], b["class_id"], b["class_name"])
                    for b in row
                ]
                for row in dets
            ]
            yield pdf

    return frames.mapInPandas(run, schema=out_schema)


_SIGNATURE_DDL = (
    "camera_id string, frame_number bigint, height int, width int, "
    "payload_sum bigint, payload_ss bigint, n_dets int, "
    "box_coord_sum bigint, conf_milli_sum bigint, class_id_sum bigint"
)


def content_signature(
    frames: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Exact integer content signature of the pixel hot path (VERDICT
    r15 #4 — the media_frame_samples moment recipe applied to T1/T2):
    decode → letterbox → detect in ONE Arrow pass, but the registered
    surface is all-integer — S and sum-of-squares over every byte of the
    LETTERBOXED payload (zero padding contributes nothing, so a wrong
    pad value or geometry moves the moments), plus the detector output
    collapsed to exact sums (box corner coords, milli-confidence — the
    stub's (s%1000) numerator — and class ids). With an md5-generated
    source (`gen=md5`) every column replays bit-for-bit in DuckDB: the
    oracle regenerates the frame bytes chunk-by-chunk, recomputes the
    detector's subsample-checksum seed from byte positions, and walks
    the same integer box derivation (frame_processing.py:60-115 contract,
    StubDetector above). Only the signature rows leave the worker —
    payload bytes never cross the Arrow boundary outward."""
    conf, classes = cfg.confidence, cfg.classes
    target = cfg.target_resolution

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        detector = StubDetector(conf, classes)
        rz = _best_resize()
        for pdf in batches:
            rows = []
            for cam, fno, buf in zip(
                pdf["camera_id"], pdf["frame_number"], pdf["image"]
            ):
                boxed = letterbox_array(
                    decode_image(bytes(buf)), target, resize=rz
                )
                flat = boxed.astype(np.int64)
                dets = detector.detect(boxed)
                rows.append(
                    (
                        cam,
                        int(fno),
                        int(boxed.shape[0]),
                        int(boxed.shape[1]),
                        int(flat.sum()),
                        int((flat * flat).sum()),
                        len(dets),
                        sum(
                            b["x_min"] + b["y_min"] + b["x_max"] + b["y_max"]
                            for b in dets
                        ),
                        sum(int(round(b["confidence"] * 1000)) for b in dets),
                        sum(b["class_id"] for b in dets),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "camera_id", "frame_number", "height", "width",
                    "payload_sum", "payload_ss", "n_dets",
                    "box_coord_sum", "conf_milli_sum", "class_id_sum",
                ],
            )

    # repartition(1) + sortWithinPartitions, NOT orderBy: a global sort
    # plans a range-sampling job that would re-run the decode scan; the
    # signature output is keyframe-count-sized, so one exchange of tiny
    # rows is the cheap total order. Streaming plans forbid sorting —
    # the micro-batch consumer orders at the sink (the S3 twin test
    # sorts collected rows).
    out = frames.mapInPandas(run, schema=_SIGNATURE_DDL)
    if out.isStreaming:
        return out
    return out.repartition(1).sortWithinPartitions(
        "camera_id", "frame_number"
    )


_CONTRACT_DDL = (
    "camera_id string, frame_number bigint, shape_ok boolean, "
    "mae_ok boolean, pad_ok boolean, dets_ok boolean"
)

# roundtrip_contract's mean-|error| bound, calibrated: JPEG q=85 4:2:0
# on md5 noise (the hardest content for a DCT codec — chroma subsampling
# alone costs ~42 per chroma byte) measures MAE 44.73-44.82 over the
# 640x360 fixture corpus, while UNRELATED uint8 noise reads ~85 (the
# expected |U-V| of independent uniforms), which is where any demux
# offset, quant-table, or IDCT regression lands. 60.0 sits ~34% above
# correct and ~30% below broken.
_MAE_BOUND = 60.0


def roundtrip_contract(
    frames: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Accuracy contract for the pixel path over LOSSY real containers
    (VERDICT r15 #4, the media_jpeg_roundtrip form): the JPEG entropy
    decode is not SQL-replayable, so the registered surface is the
    per-keyframe verdict table — shape preserved through demux + decode
    + letterbox, mean |error| vs the md5-regenerated pre-encode original
    under the calibrated _MAE_BOUND, letterbox padding exactly zero (geometry
    survives the real container), and every detection inside the stub
    detector's contract (coords in-frame and ordered, confidence >= the
    threshold, class in the whitelist, <= 3 boxes — StubDetector's
    seed%4 ceiling). Any codec/demux/letterbox regression flips a row;
    the oracle derives the all-true table relationally."""
    conf, classes = cfg.confidence, cfg.classes
    target = cfg.target_resolution
    class_ids = {i for i, n in StubDetector.CLASSES.items() if n in classes}

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        detector = StubDetector(conf, classes)
        rz = _best_resize()
        for pdf in batches:
            rows = []
            for cam, fno, buf in zip(
                pdf["camera_id"], pdf["frame_number"], pdf["image"]
            ):
                img = decode_image(bytes(buf))
                ref = md5_image_array(f"{cam}:{int(fno)}", *img.shape[:2])
                mae = float(
                    np.abs(img.astype(np.int64) - ref.astype(np.int64)).mean()
                )
                boxed = letterbox_array(img, target, resize=rz)
                h, w = img.shape[:2]
                scale = min(target / w, target / h)
                new_w = max(1, int(w * scale))
                new_h = max(1, int(h * scale))
                pad_top = (target - new_h) // 2
                pad_left = (target - new_w) // 2
                content = boxed[
                    pad_top : pad_top + new_h, pad_left : pad_left + new_w
                ]
                pad_sum = int(boxed.astype(np.int64).sum()) - int(
                    content.astype(np.int64).sum()
                )
                dets = detector.detect(boxed)
                dets_ok = len(dets) <= 3 and all(
                    0 <= b["x_min"] < b["x_max"] <= target
                    and 0 <= b["y_min"] < b["y_max"] <= target
                    and conf <= b["confidence"] < 1.0
                    and b["class_id"] in class_ids
                    for b in dets
                )
                rows.append(
                    (
                        cam,
                        int(fno),
                        boxed.shape == (target, target, 3),
                        mae <= _MAE_BOUND,
                        pad_sum == 0,
                        dets_ok,
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "camera_id", "frame_number", "shape_ok",
                    "mae_ok", "pad_ok", "dets_ok",
                ],
            )

    # same keyframe-count-sized output + streaming-plan argument as
    # content_signature
    out = frames.mapInPandas(run, schema=_CONTRACT_DDL)
    if out.isStreaming:
        return out
    return out.repartition(1).sortWithinPartitions(
        "camera_id", "frame_number"
    )
