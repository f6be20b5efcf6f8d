"""Video-axis candidate-volume ladder (round 5) — the frame-audio
ladder protocol (tools/audio_frames_probe.py) run over
pipeline_video.py, closing the r4 verdict's video evidence gap: the
video pipeline had recall gates but no measured candidate-volume
growth curve.

For each n level (videos, ~8 frames each), measures on the video
fixture (sources/video.video_spark_df — real PNG/lossy frames,
trimmed/re-encoded dup plan, shared-intro hard negatives):
  - frame rows (n_videos x ~8) and distinct phash count,
  - band-candidate PAIR EVENTS (bucketed_pair_events output of the
    4-band pigeonhole banding, counted BEFORE the Hamming gate — the
    raw volume the banding emits; simhash_pairs internals),
  - Hamming<=3-surviving frame pairs,
  - vote-passing video edges (>= 4 distinct matched frames),
  - truth-pair recall/precision of the end-to-end cluster assignment,
  - wall seconds.
Sub-quadratic verdict: events(4n)/events(n) near 4x (linear-ish), far
from the 16x of a quadratic candidate generator. The phash band
keyspace is 2^16 x 4 keys, so at large n every bucket holds ~n_frames
/2^16 members per band; identical-fingerprint dup clusters ride the
4096-star degrade (operators/visual.py docstring).

Usage: python -u tools/video_ladder_probe.py [n ...]   (default
3750 15000 60000 240000). Writes one JSON line per level to stdout.

Exclusive-box protocol applies (CLAUDE.md): don't run tests/Spark jobs
concurrently when timings are being recorded.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")
os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")


def main() -> None:
    from pyspark.sql import functions as F

    from datasketches_rust_spark.config import spark_session
    from datasketches_rust_spark.operators.lsh import bucketed_pair_events
    from datasketches_rust_spark.operators.visual import (
        pigeonhole_layout, simhash_bands, simhash_pairs)
    from datasketches_rust_spark.pipeline_video import (
        VIDEO_FRAME_HAMMING, video_cluster_assignments, video_edges,
        video_frame_sketches)
    from datasketches_rust_spark.sources.video import video_spark_df

    levels = [int(a) for a in sys.argv[1:]] or [3_750, 15_000, 60_000,
                                                240_000]
    spark = spark_session("video-ladder-probe", cpus=32,
                          shuffle_partitions=64)
    for n in levels:
        t0 = time.time()
        videos, truth = video_spark_df(spark, n, seed=42)
        vids = (videos
                .withColumn("__lid", F.xxhash64(F.col("video_id")))
                .select("__lid", "bytes"))

        fr = video_frame_sketches(vids, "__lid")
        frames = (fr.select(
            F.xxhash64(F.col("__lid"), F.col("frame_idx")).alias("__fid"),
            "phash")
            .localCheckpoint())
        n_frames = frames.count()
        n_codes = frames.select("phash").distinct().count()

        # band-candidate events BEFORE the Hamming gate — the raw
        # volume the 4-band pigeonhole banding emits (simhash_pairs
        # evaluates the popcount on exactly these rows)
        ex = simhash_bands(frames, "__fid", "phash",
                           pigeonhole_layout(VIDEO_FRAME_HAMMING))
        band_events = bucketed_pair_events(ex, 4096,
                                           payload=("phash",)).count()

        # Hamming survivors (frame-level near-dup pairs)
        fpairs = simhash_pairs(frames, "__fid", "phash",
                               max_hamming=VIDEO_FRAME_HAMMING).count()

        # vote-passing video edges
        edges = video_edges(vids, "__lid").count()

        # end-to-end recall/precision vs planted truth (pair form)
        assign = (video_cluster_assignments(videos.select("video_id",
                                                          "bytes"))
                  .localCheckpoint())
        j = (assign.withColumnRenamed("cluster_id", "g")
             .join(truth, "video_id"))
        gsize = (j.groupBy("g").count()
                 .agg(F.sum(F.expr("count * (count - 1) / 2"))
                      .alias("x")).collect()[0]["x"])
        tsize = (j.groupBy("cluster_id").count()
                 .agg(F.sum(F.expr("count * (count - 1) / 2"))
                      .alias("x")).collect()[0]["x"])
        bsize = (j.groupBy("g", "cluster_id").count()
                 .agg(F.sum(F.expr("count * (count - 1) / 2"))
                      .alias("x")).collect()[0]["x"])
        recall = float(bsize) / float(tsize) if tsize else 1.0
        precision = float(bsize) / float(gsize) if gsize else 1.0
        dt = time.time() - t0
        print(json.dumps({
            "n_videos": n, "n_frames": n_frames, "n_codes": n_codes,
            "band_events": band_events,
            "frame_pairs_hamming": fpairs,
            "video_edges": edges,
            "pair_recall": round(recall, 5),
            "pair_precision": round(precision, 5),
            "wall_s": round(dt, 1)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
