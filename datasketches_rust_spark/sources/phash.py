"""Perceptual hash (DCT-based, 64-bit) — pure numpy, batched.

Standard pHash recipe: grayscale -> 32x32 block-mean resize -> 2D DCT-II ->
top-left 8x8 low-frequency block -> bit = coefficient > median. Computed
from decoded pixels so the phash column stays consistent with the bytes
column (FIXTURES.md F1: "computed, not random").
"""

from __future__ import annotations

import numpy as np

_N = 32
_K = np.arange(_N)
# orthonormal DCT-II basis
_DCT = np.sqrt(2.0 / _N) * np.cos(np.pi * (2 * _K[None, :] + 1)
                                  * _K[:, None] / (2 * _N))
_DCT[0] /= np.sqrt(2.0)


def _to_gray32(pixels: np.ndarray) -> np.ndarray:
    """(h, w, 3) uint8 -> (32, 32) float64 via luma + block mean."""
    gray = (0.299 * pixels[..., 0] + 0.587 * pixels[..., 1]
            + 0.114 * pixels[..., 2])
    h, w = gray.shape
    if h % _N or w % _N:
        # nearest-resample up to a multiple, then block-mean
        yi = (np.arange(_N * ((h + _N - 1) // _N)) * h) // (_N * ((h + _N - 1) // _N))
        xi = (np.arange(_N * ((w + _N - 1) // _N)) * w) // (_N * ((w + _N - 1) // _N))
        gray = gray[np.ix_(yi, xi)]
        h, w = gray.shape
    return gray.reshape(_N, h // _N, _N, w // _N).mean(axis=(1, 3))


def phash64(pixels: np.ndarray) -> int:
    """(h, w, 3) uint8 -> 64-bit int (sign bit pattern ok for int64)."""
    g = _to_gray32(pixels)
    d = _DCT @ g @ _DCT.T
    block = d[:8, :8].ravel()
    med = np.median(block)
    bits = (block > med).astype(np.uint64)
    fp = np.uint64(0)
    for i in range(64):
        fp |= bits[i] << np.uint64(i)
    return int(fp.view(np.int64))


# persistent chunk buffers (CLAUDE.md malloc discipline: on this kernel a
# fresh 80 MB allocation per 10k-row Arrow batch costs ~0.5 ms/4KiB in
# first-touch page faults — 3 such temporaries made the decode stage 10x
# slower than the warm-buffer kernel). ~45 MB resident per worker.
_CHUNK = 2048
_BUFS: dict | None = None
_D8 = _DCT[:8]  # the DCT basis rows the 8x8 low-frequency block reads


def _bufs() -> dict:
    global _BUFS
    if _BUFS is None:
        _BUFS = {"px": np.empty((_CHUNK, _N, _N, 3), np.uint8),
                 "g": np.empty((_CHUNK, _N, _N)),
                 "tmp": np.empty((_CHUNK, _N, _N)),
                 "d1": np.empty((_CHUNK, 8, _N)),
                 "d2": np.empty((_CHUNK, 8, 8))}
    return _BUFS


def _gray_chunk(chunk: list[np.ndarray], b: dict) -> list[int]:
    """Fill b["g"][:m] with the chunk's gray 32x32 images and return the
    chunk index each row of it holds. 32x32 uint8 images (video's frame
    size) come first, stacked and converted in one vectorized pass: their
    block mean is over 1x1 blocks, the identity, and the luma terms add
    in _to_gray32's order, so the values are the same. Other images
    follow, one _to_gray32 call each."""
    small, rest = [], []
    for i, p in enumerate(chunk):
        (small if p.shape == (_N, _N, 3) and p.dtype == np.uint8
         else rest).append(i)
    k = len(small)
    if k:
        px = np.stack([chunk[i] for i in small], out=b["px"][:k])
        gray, tmp = b["g"][:k], b["tmp"][:k]
        np.multiply(px[..., 0], 0.299, out=gray)
        np.multiply(px[..., 1], 0.587, out=tmp)
        gray += tmp
        np.multiply(px[..., 2], 0.114, out=tmp)
        gray += tmp
    for j, i in enumerate(rest, k):
        b["g"][j] = _to_gray32(chunk[i])
    return small + rest


def phash_batch(pixel_list: list[np.ndarray]) -> np.ndarray:
    """List of (h, w, 3) uint8 -> (N,) int64 phashes.

    Runs in fixed-size chunks through persistent buffers: gray/resize
    (_gray_chunk), then the DCT, median threshold and bit packing
    batched. Only the DCT's 8x8 low-frequency corner is computed
    (_D8 @ g @ _D8.T), which on the tested BLAS gives the same floats as
    phash64's full transform. Bit-identical to phash64 per row (pinned by
    tests/test_images.py)."""
    n = len(pixel_list)
    out = np.empty(n, dtype=np.int64)
    if n == 0:
        return out
    b = _bufs()
    for start in range(0, n, _CHUNK):
        chunk = pixel_list[start:start + _CHUNK]
        m = len(chunk)
        order = _gray_chunk(chunk, b)
        np.matmul(_D8, b["g"][:m], out=b["d1"][:m])
        np.matmul(b["d1"][:m], _D8.T, out=b["d2"][:m])
        block = b["d2"][:m].reshape(m, 64)
        med = np.median(block, axis=1, keepdims=True)
        bits = (block > med).astype(np.uint8)
        # bit i of the hash = bits[:, i], little-endian across the 8
        # bytes — identical layout to phash64's explicit shift loop
        out[start + np.asarray(order)] = np.packbits(
            bits, axis=1, bitorder="little").view(np.int64).ravel()
    return out
