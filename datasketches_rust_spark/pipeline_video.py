"""Video-axis near-dup pipeline — the 5th modality: container split ->
per-frame decode + DCT phash in one Arrow pass -> frame-level phash
banding (operators/visual.simhash_pairs, the image axis' operator) ->
FRAME-OVERLAP VOTE (videos sharing >= VIDEO_MIN_FRAME_MATCHES
near-dup frames) -> connected components.

Temporal voting is what distinguishes video dedup from running image
dedup per frame: a single shared frame (channel intro/outro — the
fixture's hard negative) must NOT connect two videos, while a trimmed
or re-encoded copy (sharing most frames at phash Hamming <= 3) must.
Measured on the fixture: dup pairs share >= 6 of 8 frames, hard
negatives exactly 1, random distinct <= 1 — the >= 4 threshold sits in
a wide margin (sources/video.py).

Scale shape: bytes die at the frame-sketch scan (the one mapInArrow
pass: split + magic-sniff decode + phash_batch over chunks of frames,
exploding 1 video row -> n_frames sketch rows), and the scan runs
once: nothing is cached or counted.
Frame ids are xxhash64(video_id, frame_idx) longs, and each frame's
(video id, frame_idx) rides WITH its band rows through the pair
generation as simhash_pairs' payload, so the vote reads both sides'
videos off the frame pairs — no frame-id -> video-id join. The vote is
a (va, vb)-keyed count-distinct aggregate over frame-pair edges
(bounded by matched frames, never frames^2); CC is two jobs (driver
finish, connected_components.component_labels).
"""

from __future__ import annotations

from itertools import islice
from typing import Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F

VIDEO_FRAME_HAMMING = 3    # per-frame near-dup gate (the image axis')
VIDEO_MIN_FRAME_MATCHES = 4  # dups >= 6, intro-sharing negatives = 1

_PNG_MAGIC = b"\x89PNG"


def _decode_frame(buf: bytes) -> np.ndarray:
    from datasketches_rust_spark.sources.codec import (decode_jpeg,
                                                       decode_png)
    if buf[:4] == _PNG_MAGIC:
        return decode_png(buf)
    return decode_jpeg(buf)


def _split_frames(bufs: list[bytes | None]
                  ) -> Iterator[tuple[int, int, bytes]]:
    """(row, frame_idx, frame bytes) of every non-empty frame in a list
    of '<u4'-length-prefixed containers. A null container has no frames;
    an empty entry keeps its frame_idx but yields nothing."""
    for row, buf in enumerate(bufs):
        pos, idx = 0, 0
        while buf is not None and pos + 4 <= len(buf):
            ln = int.from_bytes(buf[pos:pos + 4], "little")
            frame = buf[pos + 4:pos + 4 + ln]
            if frame:
                yield row, idx, frame
            pos += 4 + ln
            idx += 1


def _frame_sketch_pass(batches: Iterator[pa.RecordBatch]
                       ) -> Iterator[pa.RecordBatch]:
    """(__vid, __b) batches -> (__vid, frame_idx, phash) batches: each
    batch's frames are split, decoded and phashed in chunks of at most
    phash._CHUNK frames, so no more than one chunk is ever decoded."""
    from datasketches_rust_spark.sources.phash import _CHUNK, phash_batch

    for batch in batches:
        frames = _split_frames(batch.column("__b").to_pylist())
        while chunk := list(islice(frames, _CHUNK)):
            rows, idxs, bufs = zip(*chunk)
            yield pa.RecordBatch.from_arrays(
                [batch.column("__vid").take(pa.array(rows, pa.int32())),
                 pa.array(idxs, pa.int32()),
                 pa.array(phash_batch([_decode_frame(f) for f in bufs]),
                          pa.int64())],
                names=["__vid", "frame_idx", "phash"])


def video_frame_sketches(videos: DataFrame,
                         id_col: str = "video_id") -> DataFrame:
    """DataFrame[video_id, frame_idx, phash] — split + decode + phash
    in ONE Arrow pass; the bytes column never travels past it. A null
    bytes value, like an empty one, has no frames."""
    id_type = dict(videos.dtypes)[id_col]
    return (videos.select(F.col(id_col).alias("__vid"),
                          F.col("bytes").alias("__b"))
            .mapInArrow(
                _frame_sketch_pass,
                f"__vid {id_type}, frame_idx int, phash long")
            .withColumnRenamed("__vid", id_col))


def video_edges(videos: DataFrame, id_col: str = "video_id"
                ) -> DataFrame:
    """DataFrame[id_a, id_b] — video pairs sharing >=
    VIDEO_MIN_FRAME_MATCHES near-dup frames. id_col must be LONG here:
    assign_clusters, the caller in video_cluster_assignments, maps
    string ids to longs first."""
    from datasketches_rust_spark.operators.visual import simhash_pairs

    frames = video_frame_sketches(videos, id_col).select(
        F.xxhash64(F.col(id_col), F.col("frame_idx")).alias("__fid"),
        F.col("phash"),
        F.col(id_col).alias("__v"), F.col("frame_idx").alias("__k"))
    fpairs = simhash_pairs(frames, "__fid", "phash",
                           max_hamming=VIDEO_FRAME_HAMMING,
                           payload=("__v", "__k"))
    va, vb = F.col("__v_a"), F.col("__v_b")
    return (fpairs.where(va != vb)
            .select(F.least(va, vb).alias("id_a"),
                    F.greatest(va, vb).alias("id_b"),
                    # vote = distinct matched frames of the SMALLER
                    # video (a frame matching several frames of the
                    # other video is ONE match)
                    F.when(va < vb, F.col("__k_a"))
                    .otherwise(F.col("__k_b")).alias("__kk"))
            .groupBy("id_a", "id_b")
            .agg(F.count_distinct("__kk").alias("__n"))
            .where(F.col("__n") >= VIDEO_MIN_FRAME_MATCHES)
            .select("id_a", "id_b"))


def video_cluster_assignments(videos: DataFrame,
                              id_col: str = "video_id") -> DataFrame:
    """DataFrame[video_id, cluster_id] — min member video_id;
    singletons map to themselves."""
    from datasketches_rust_spark.operators.connected_components import \
        assign_clusters

    return assign_clusters(videos, video_edges, id_col)
