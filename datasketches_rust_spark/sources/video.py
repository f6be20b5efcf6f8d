"""Deterministic synthetic video fixture (the video axis of the
multimodal dedup surface).

Container format is the repo's honest STUB: '<u4'-length-prefixed
concatenated frames, split by pipeline_video.video_frame_sketches (real
deployments swap the splitter for pyav/ffmpeg); the FRAMES are real:
PNG (lossless, sources/codec.py) or the deterministic fake-JPEG lossy
codec, decoded by magic sniffing. Schema: (video_id string, bytes
binary, n_frames int). Fully seeded, embarrassingly parallel (shared
plan_clusters, every row keyed by (seed, row_index)).

Base videos: 8 frames of 32x32 'motion' — the clip's base pattern
(images._base_pixels) rolled one column per frame with a small
brightness drift, so adjacent frames are related but NOT phash-near
(measured adjacent-frame Hamming 6-14, vs the <=3 near-dup gate).
Duplicate roles reuse images.plan_clusters verbatim:
  exact   — identical bytes
  visual  — every frame re-encoded through the lossy codec (q 90-98)
  caption — TRIM: the last 2 frames dropped (a cut/short edit)
  hard_negative — distinct video SHARING its first frame with the
            previous base (a common intro/outro — the realistic
            false-positive trap for frame-overlap matching)
Measured separation at n=300: dup video pairs share >= 6 frame matches
(phash Hamming <= 3), hard negatives exactly 1, random distinct <= 1 —
the pipeline's >= 4 threshold sits in a wide margin.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from datasketches_rust_spark.sources.codec import encode_jpeg, encode_png
from datasketches_rust_spark.sources.images import (
    _base_pixels,
    plan_clusters,
)

N_FRAMES = 8
FRAME_SIZE = 32


def _frames(seed: int, i: int, n: int = N_FRAMES) -> list[np.ndarray]:
    base = _base_pixels(seed, i, FRAME_SIZE)
    out = []
    for k in range(n):
        px = np.roll(base, k, axis=1).astype(np.int32) + 2 * k
        out.append(np.clip(px, 0, 255).astype(np.uint8))
    return out


def _pack(frames: list[bytes]) -> bytes:
    return b"".join(
        np.uint32(len(f)).astype("<u4").tobytes() + f for f in frames)


def _row_rng(seed: int, i: int, salt: int) -> np.random.Generator:
    return np.random.default_rng(np.random.PCG64([seed, salt, i]))


def materialize_videos(indices, plan: list[tuple[str, int]],
                       seed: int) -> pd.DataFrame:
    rows = []
    for i in indices:
        kind, base = plan[i]
        if kind in ("base", "single"):
            frs = [encode_png(f) for f in _frames(seed, i)]
        elif kind == "hard_negative":
            px = _frames(seed, i)
            px[0] = _frames(seed, base)[0]
            frs = [encode_png(f) for f in px]
        elif kind == "exact":
            frs = [encode_png(f) for f in _frames(seed, base)]
        elif kind == "visual":
            r = _row_rng(seed, i, 14)
            frs = [encode_jpeg(f, int(r.integers(90, 99)))
                   for f in _frames(seed, base)]
        elif kind == "caption":  # trim
            frs = [encode_png(f) for f in _frames(seed, base)[:6]]
        else:  # pragma: no cover
            raise AssertionError(kind)
        cluster = base if kind in ("base", "exact", "visual",
                                  "caption") else i
        rows.append((f"vid_{i:010d}", _pack(frs), len(frs),
                     int(cluster)))
    return pd.DataFrame(rows, columns=["video_id", "bytes", "n_frames",
                                       "cluster_id"])


def generate_videos(n_rows: int, seed: int = 42, dup_rate: float = 0.30
                    ) -> tuple[pd.DataFrame, pd.DataFrame]:
    plan = plan_clusters(n_rows, seed, dup_rate)
    full = materialize_videos(range(n_rows), plan, seed)
    truth = full[["video_id", "cluster_id"]].copy()
    return full.drop(columns="cluster_id"), truth


VIDEO_SCHEMA = "video_id string, bytes binary, n_frames int"


def video_spark_df(spark, n_rows: int, seed: int = 42,
                   dup_rate: float = 0.30, partitions: int | None = None):
    """(videos DataFrame, truth DataFrame), synthesized in parallel."""
    plan = plan_clusters(n_rows, seed, dup_rate)
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        for pdf in batches:
            yield materialize_videos(pdf["id"].to_numpy(), plan, seed)

    base = spark.range(0, n_rows, numPartitions=parts)
    full = base.mapInPandas(gen, schema=VIDEO_SCHEMA + ", cluster_id long")
    return full.drop("cluster_id"), full.select("video_id", "cluster_id")
