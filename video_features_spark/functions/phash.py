"""Perceptual hashing for near-duplicate keying (the ``phash`` column of the
input table). Average-hash: grayscale → 8×8 mean-pool → threshold at the mean →
64-bit signature. Deterministic, vectorizable, robust to the qjpg quantization
noise — near-duplicate images collide, which is exactly what makes phash a
skewed session/join key (the north rule's "hot phash buckets")."""

from __future__ import annotations

import numpy as np

_GRAY = np.array([0.299, 0.587, 0.114], dtype=np.float64)  # ITU-R BT.601 luma


def average_hash(arr: np.ndarray, hash_size: int = 8) -> int:
    """64-bit average hash of an H×W×3 uint8 image, as a signed int64 (Spark
    LongType has no unsigned variant)."""
    gray = arr.astype(np.float64) @ _GRAY
    h, w = gray.shape
    # integral-image mean pooling to hash_size×hash_size (handles any h,w)
    ys = (np.arange(hash_size + 1) * h // hash_size).astype(int)
    xs = (np.arange(hash_size + 1) * w // hash_size).astype(int)
    ii = np.zeros((h + 1, w + 1))
    ii[1:, 1:] = gray.cumsum(0).cumsum(1)
    sums = ii[ys[1:, None], xs[None, 1:]] - ii[ys[:-1, None], xs[None, 1:]] \
        - ii[ys[1:, None], xs[None, :-1]] + ii[ys[:-1, None], xs[None, :-1]]
    areas = (ys[1:, None] - ys[:-1, None]) * (xs[None, 1:] - xs[None, :-1])
    cells = sums / areas
    bits = (cells > cells.mean()).flatten()
    val = 0
    for b in bits:
        val = (val << 1) | int(b)
    # two's-complement fold into signed int64
    return val - (1 << 64) if val >= (1 << 63) else val
