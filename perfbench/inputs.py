"""Seeded input generators. The same seed always gives the same bytes."""

from __future__ import annotations

import numpy as np


def aerial_frames(seed: int, n: int, height: int, width: int):
    """Aerial-like RGB frames: a colour gradient (ground), three blocks
    moving at constant speed (vehicles) and +-12 sensor noise. Smooth
    content is what JPEG cameras see; pure noise would be the codec's worst
    case."""
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:height, 0:width]
    phase = rng.integers(0, 256, 3)
    ground = np.stack([
        (xx * 255 // width + phase[0]) % 256,
        (yy * 255 // height + phase[1]) % 256,
        ((xx + yy) * 255 // (width + height) + phase[2]) % 256,
    ], axis=-1).astype(np.int16)
    blocks = []
    for _ in range(3):
        bh, bw = int(rng.integers(8, height // 4)), int(rng.integers(8, width // 4))
        blocks.append((int(rng.integers(0, height - bh)), int(rng.integers(0, width - bw)),
                       bh, bw, rng.integers(0, 256, 3), int(rng.integers(-3, 4)),
                       int(rng.integers(-6, 7))))
    for i in range(n):
        img = ground.copy()
        for y0, x0, bh, bw, colour, vy, vx in blocks:
            y, x = (y0 + vy * i) % (height - bh), (x0 + vx * i) % (width - bw)
            img[y:y + bh, x:x + bw] = colour
        img += rng.integers(-12, 13, size=img.shape, dtype=np.int16)
        yield np.clip(img, 0, 255).astype(np.uint8)
