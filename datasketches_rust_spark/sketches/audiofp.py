"""Audio clip sketch: 64-bit Haitsma–Kalker-style sign code for LSH
candidate generation + a unit-normalized 8x8 band-energy feature
vector for exact verification.

The code follows the Philips robust-hash family ("A Highly Robust
Audio Fingerprint", Haitsma & Kalker, ISMIR'02): the clip is cut into
8 equal TIME segments x 8 LINEAR frequency bands over [100, 3600] Hz
(absolute Hz so a resampled copy lands in the same bands; linear
spacing so uniformly-pitched content occupies bands uniformly — log
spacing concentrates everything in the top bands and collapses
distances), and bit(seg, band) = E[seg, band] >
mean_over_segments(E[:, band]). Comparing against the band's own mean
makes the code exactly GAIN-INVARIANT and robust to PCM16
quantization, mild noise and resampling (fixture-measured: gain 0
bits, noise/resample mostly <=5, tail to ~8; distinct clips ~25-32,
rare tails to ~3) — so the 64-bit code is the CANDIDATE key, not the
verdict. The verdict is the feature vector: each segment's spectrum
is normalized to sum 1 FIRST (removing gain AND envelope — only
per-segment spectral SHAPE remains), then the 8x8 matrix is flattened
and L2-normalized so verification cosine = a plain dot product.
Fixture margins are decisive: dup pairs >= 0.9997 while
band-COLLIDING distinct pairs (the adversarial set candidate
generation selects for) max 0.876 — raw-energy cosine, by contrast,
OVERLAPS (dup min 0.888 < colliding-distinct max 0.900) because the
loudest cells dominate it. See pipeline_audio.py for the
id-only-shuffle join shape.

Pure numpy, Spark-free (the test oracle recomputes with this same
kernel driver-side; rule: sketch kernels stay Spark-free). Not
time-shift invariant by design: alignment-insensitive matching needs
frame-level codes + temporal voting — out of scope for clip dedup,
where dups are re-encodes of the same master.
"""

from __future__ import annotations

import numpy as np

N_SEGMENTS = 8
N_BANDS = 8
F_LO = 100.0
F_HI = 3600.0

BAND_EDGES = np.linspace(F_LO, F_HI, N_BANDS + 1)


def _sign_codes(bits: np.ndarray) -> np.ndarray:
    """(..., N_SEGMENTS, N_BANDS) sign matrices -> (...) int64 codes,
    bit i = cell i of the segment-major matrix."""
    flat = bits.reshape(*bits.shape[:-2], 64).astype(np.uint64)
    return (flat << np.arange(64, dtype=np.uint64)).sum(
        axis=-1).astype(np.int64)


def band_energies(pcm: np.ndarray, sr: int) -> np.ndarray:
    """(N_SEGMENTS, N_BANDS) spectral energy matrix of a mono clip."""
    pcm = np.asarray(pcm, dtype=np.float64)
    n = pcm.size - pcm.size % N_SEGMENTS
    out = np.zeros((N_SEGMENTS, N_BANDS), dtype=np.float64)
    if n == 0:
        return out
    segs = pcm[:n].reshape(N_SEGMENTS, -1)
    mag2 = np.abs(np.fft.rfft(segs, axis=1)) ** 2
    freqs = np.fft.rfftfreq(segs.shape[1], 1.0 / sr)
    for b in range(N_BANDS):
        m = (freqs >= BAND_EDGES[b]) & (freqs < BAND_EDGES[b + 1])
        out[:, b] = mag2[:, m].sum(axis=1)
    return out


def audio_sketch(pcm: np.ndarray, sr: int
                 ) -> tuple[int, np.ndarray]:
    """(fingerprint int64, unit-normalized float32[64] feature vector).

    The fingerprint is signed 64-bit two's complement (stores directly
    in a LongType column); bit i = cell i of the segment-major 8x8
    sign matrix. The feature vector is the PER-SEGMENT-normalized
    energy matrix (each row scaled to sum 1 — gain and envelope
    removed, only spectral shape left), flattened and L2-normalized so
    verification cosine = plain dot product.
    """
    e = band_energies(pcm, sr)
    code = _sign_codes(e > e.mean(axis=0, keepdims=True))
    shape = e / (e.sum(axis=1, keepdims=True) + 1e-30)
    feat = shape.reshape(-1)
    nrm = np.linalg.norm(feat)
    feat = (feat / nrm if nrm > 0 else feat).astype(np.float32)
    return int(code), feat


def audio_fingerprint64(pcm: np.ndarray, sr: int) -> int:
    return audio_sketch(pcm, sr)[0]


# ---------------------------------------------------------------------------
# Frame-level sub-fingerprints (round 4)
# ---------------------------------------------------------------------------
# The clip-level code above is deliberately NOT time-shift invariant
# and caps out around ~30 bits of entropy (pipeline_audio.py's honest
# scale note: candidate volume grows ~n^2/2^18 past 10^6-10^7 clips).
# Frame-level sub-fingerprints are Haitsma-Kalker's original design
# (ISMIR'02: overlapping frames, one sub-fingerprint each, matching by
# shared frames): each overlapping FRAME gets its own 64-bit sign code
# from the same 8-segment x 8-band kernel, so
#   - a trimmed / time-shifted copy aligns at hop granularity and
#     shares most frame codes even though its CLIP code differs
#     completely (the capability clip-level matching cannot have), and
#   - entropy lives per frame: candidates come from frame-code
#     banding, and clip pairs must win a TEMPORAL VOTE (>= k distinct
#     matched frames — the video pipeline's exact shape), so a single
#     coincidentally-shared frame never links two clips.
# Frame length/hop are in SECONDS (sample counts derive from sr, so a
# resampled copy frames the same CONTENT); hop = frame/4 gives 75%
# overlap — shift robustness is at hop granularity by construction,
# the fixture's documented contract.

FRAME_SECONDS = 0.128
HOP_SECONDS = 0.032


def frame_band_energies(frames: np.ndarray, sr: int) -> np.ndarray:
    """(F, N_SEGMENTS, N_BANDS) energy tensor for a (F, frame_len)
    matrix of frames — band_energies vectorized across frames (ONE
    rfft for all frames' segments)."""
    nf, flen = frames.shape
    seg_len = flen // N_SEGMENTS
    segs = frames[:, :seg_len * N_SEGMENTS].reshape(
        nf * N_SEGMENTS, seg_len)
    mag2 = np.abs(np.fft.rfft(segs, axis=1)) ** 2
    freqs = np.fft.rfftfreq(seg_len, 1.0 / sr)
    out = np.zeros((nf * N_SEGMENTS, N_BANDS), dtype=np.float64)
    for b in range(N_BANDS):
        m = (freqs >= BAND_EDGES[b]) & (freqs < BAND_EDGES[b + 1])
        out[:, b] = mag2[:, m].sum(axis=1)
    return out.reshape(nf, N_SEGMENTS, N_BANDS)


def audio_frame_codes(pcm: np.ndarray, sr: int) -> np.ndarray:
    """(n_frames,) int64 — one 64-bit sign code per overlapping frame
    (FRAME_SECONDS window, HOP_SECONDS hop). Same bit convention as
    audio_sketch scoped to the frame: bit(seg, band) = E > the band's
    own within-frame segment mean (gain-invariant). Clips shorter than
    one frame yield a single whole-clip frame (== the clip code's
    energy support)."""
    pcm = np.asarray(pcm, dtype=np.float64)
    flen = int(round(FRAME_SECONDS * sr))
    hop = max(int(round(HOP_SECONDS * sr)), 1)
    if pcm.size < flen:
        frames = pcm[np.newaxis, :pcm.size - pcm.size % N_SEGMENTS]
        if frames.shape[1] == 0:
            return np.empty(0, dtype=np.int64)
    else:
        starts = np.arange(0, pcm.size - flen + 1, hop)
        frames = np.lib.stride_tricks.sliding_window_view(
            pcm, flen)[starts]
    e = frame_band_energies(frames, sr)
    return _sign_codes(e > e.mean(axis=1, keepdims=True))
