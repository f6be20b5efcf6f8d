"""Batched 128-permutation MinHash — the KMV/theta idea specialized to
Jaccard similarity (theta is "a generalization of the KMV sketch",
theta/mod.rs:20-23; MinHash is its per-permutation little sibling).

One murmur3-x64-128(seed 9001) base hash per shingle (coupon-precompute
trick: hash once, fan out to all permutations — hll/mod.rs:167-173), then
num_perm affine permutations a*h+b mod 2^64 (numpy uint64 wraparound),
column-wise min per document. Merge = elementwise min (commutative +
associative => legal Spark partial aggregation, same property the reference
exploits for HLL register-max union, hll/union.rs:449-464).

Everything is segment-vectorized: one call signs an entire Arrow batch of
documents via np.minimum.reduceat — zero per-row Python.
"""

from __future__ import annotations

import numpy as np

from datasketches_rust_spark.hashing import DEFAULT_SEED, murmur3_x64_128
from datasketches_rust_spark.sketches.util import U64_MAX

_scratch: dict[str, np.ndarray] = {}


def _buf(tag: str, n: int) -> np.ndarray:
    """Persistent uint64 scratch buffer (grown geometrically, never freed).

    Executor worker processes are long-lived; reusing one buffer across
    Arrow batches keeps the kernel's pages resident instead of re-faulting
    a fresh allocation every batch (page faults dominate arithmetic on
    virtualized kernels by ~1000x)."""
    arr = _scratch.get(tag)
    if arr is None or arr.size < n:
        arr = np.empty(int(n * 1.25) + 16, dtype=np.uint64)
        _scratch[tag] = arr
    return arr[:n]


def perm_params(num_perm: int, seed: int = DEFAULT_SEED
                ) -> tuple[np.ndarray, np.ndarray]:
    """Deterministic affine permutation params (a odd, b) derived from the
    sketch seed via murmur — same-seed sketches are mergeable, different
    seeds are not (hash/mod.rs:44-61 contract)."""
    h1, h2 = murmur3_x64_128(b"minhash-perms", seed)
    rng = np.random.default_rng(np.uint64(h1 ^ h2))
    a = rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64) * np.uint64(2) \
        + np.uint64(1)  # odd => bijective mod 2^64
    b = rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64)
    return a, b


def signatures(shingle_hashes: np.ndarray, doc_offsets: np.ndarray,
               num_perm: int = 128, seed: int = DEFAULT_SEED) -> np.ndarray:
    """MinHash signatures for a batch of documents.

    shingle_hashes: (total,) uint64 — concatenated base hashes, doc-major.
    doc_offsets: (n_docs + 1,) int64 — doc d owns [offsets[d], offsets[d+1]).
    Returns (n_docs, num_perm) uint64. Documents with zero shingles get the
    empty signature (all U64_MAX) — merging it is a no-op, like an empty
    sketch.
    """
    h = np.ascontiguousarray(shingle_hashes, dtype=np.uint64)
    offsets = np.asarray(doc_offsets, dtype=np.int64)
    n_docs = len(offsets) - 1
    out = np.full((n_docs, num_perm), U64_MAX, dtype=np.uint64)
    if h.size == 0 or n_docs == 0:
        return out

    counts = np.diff(offsets)
    a, b = perm_params(num_perm, seed)

    # Cache-blocked: documents are processed in groups whose shingle span
    # fits L2 (~256 KB), and ALL num_perm permutations run over one group
    # before moving on. The naive order (each permutation streaming the
    # whole batch) reads+writes the full shingle array from DRAM 3x per
    # permutation — ~3 KB of memory traffic per shingle — which saturates
    # this box's DRAM bandwidth at ~16 concurrent workers and caps
    # core-count scaling (tools/hw_scaling_probe.py). Blocked, the group
    # stays cache-resident across the permutation loop, so DRAM traffic
    # drops to ~one read per shingle + one write per signature.
    chunk_elems = 32_768  # u64 span per group: 256 KB, L2-resident
    tmp = _buf("sig_tmp", min(h.size, chunk_elems))
    d0 = 0
    while d0 < n_docs:
        d1 = d0 + 1
        while d1 < n_docs and offsets[d1 + 1] - offsets[d0] <= chunk_elems:
            d1 += 1
        s, e = int(offsets[d0]), int(offsets[d1])
        if s == e:  # all-empty group keeps the U64_MAX signature
            d0 = d1
            continue
        hseg = h[s:e]
        ne = counts[d0:d1] > 0
        seg_starts = offsets[d0:d1][ne] - s
        t = tmp[:hseg.size] if hseg.size <= chunk_elems \
            else _buf("sig_tmp_big", hseg.size)  # one oversized doc
        o = out[d0:d1]
        for p in range(num_perm):
            np.multiply(hseg, a[p], out=t)  # uint64 wraparound = mod 2^64
            np.add(t, b[p], out=t)
            o[ne, p] = np.minimum.reduceat(t, seg_starts)
        d0 = d1
    return out


def signature_one(shingle_hashes: np.ndarray, num_perm: int = 128,
                  seed: int = DEFAULT_SEED) -> np.ndarray:
    """Single-document convenience (oracle path)."""
    offs = np.array([0, len(shingle_hashes)], dtype=np.int64)
    return signatures(shingle_hashes, offs, num_perm, seed)[0]


def merge(sig_a: np.ndarray, sig_b: np.ndarray) -> np.ndarray:
    """Union of the underlying shingle sets = elementwise min."""
    return np.minimum(sig_a, sig_b)


def jaccard_estimate(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    """Fraction of agreeing permutations — unbiased Jaccard estimator."""
    return float(np.mean(sig_a == sig_b))


def band_hashes(sigs: np.ndarray, bands: int, rows: int,
                seed: int = DEFAULT_SEED) -> np.ndarray:
    """LSH band keys: (n_docs, bands) int64. Band j's key summarizes
    signature columns [j*rows, (j+1)*rows) — equal keys <=> (w.h.p.) equal
    band slices. Uses an order-dependent affine fold so that permuted
    slices don't collide, and mixes the band INDEX into the key so keys
    from different bands never (w.h.p.) collide: the LSH join can then
    use the single long key as the whole join key, halving the join-key
    bytes every band row carries through the two big shuffles."""
    n, p = sigs.shape
    if bands * rows != p:
        raise ValueError(f"bands*rows {bands}*{rows} != num_perm {p}")
    a, b = perm_params(rows, np.uint64(seed) ^ np.uint64(0xB4D5EED))
    view = sigs.reshape(n, bands, rows)
    folded = (view * a[None, None, :] + b[None, None, :]).sum(axis=2,
                                                              dtype=np.uint64)
    # distinct per-band offsets (splitmix golden-ratio steps)
    idx_mix = ((np.arange(1, bands + 1, dtype=np.uint64)
                * np.uint64(0x9E3779B97F4A7C15)) ^ np.uint64(seed))
    folded ^= idx_mix[None, :]
    # make it a positive int63 so Spark LongType holds it comfortably
    return (folded >> np.uint64(1)).astype(np.int64)
