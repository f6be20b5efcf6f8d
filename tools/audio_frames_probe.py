"""Frame-level audio candidate-volume ladder (round 4) — the
measurement protocol that chose the clip-level triple-slice keys
(pipeline_audio.AUDIO_SLICE_TRIPLES), re-run for the frame-level
pipeline to evidence its scale claim: candidate volume must stop
tracking clip-count^2.

For each n level, measures on the frame-axis fixture
(sources/audio.audio_frames_spark_df):
  - frame rows (n_clips x ~12),
  - band-candidate PAIR EVENTS (bucketed_pair_events output before the
    per-frame Hamming gate — the raw volume the banding emits),
  - Hamming-surviving frame pairs and vote-passing clip edges,
  - truth-pair recall/precision of the end-to-end cluster assignment,
  - wall seconds.
Sub-quadratic verdict: events(4n)/events(n) near 4x (linear-ish), far
from the 16x a quadratic candidate generator shows — the clip-level
ladder measured the n^2 wall arriving at 240k for PAIR keys (385M
events); the frame axis at 240k must sit orders of magnitude below.

Usage: python -u tools/audio_frames_probe.py [n ...]   (default
15000 60000 240000). Writes one JSON line per level to stdout.

Exclusive-box protocol applies (CLAUDE.md): don't run tests/Spark jobs
concurrently when timings are being recorded.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")
# 240k clips x ~12 frames needs the bench-sized heap (the default 8g
# local JVM OOMs in the vote join's shuffle)
os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")


def main() -> None:
    from pyspark.sql import functions as F

    from datasketches_rust_spark.config import spark_session
    from datasketches_rust_spark.operators.lsh import bucketed_pair_events
    from datasketches_rust_spark.operators.visual import simhash_bands
    from datasketches_rust_spark.pipeline_audio import (
        AUDIO_FRAME_BAND_LAYOUT, AUDIO_FRAME_BUCKET_CAP, _code_match_table,
        audio_frame_cluster_assignments, audio_frame_sketches)
    from datasketches_rust_spark.sources.audio import audio_frames_spark_df

    levels = [int(a) for a in sys.argv[1:]] or [15_000, 60_000, 240_000]
    spark = spark_session("audio-frames-probe", cpus=32,
                          shuffle_partitions=64)
    for n in levels:
        t0 = time.time()
        clips, truth = audio_frames_spark_df(spark, n, seed=42)
        clips = clips.withColumn("__lid", F.xxhash64("clip_id"))

        fr = audio_frame_sketches(clips.select("__lid", "bytes"),
                                  "__lid")
        frames = (fr.select(F.col("__lid").alias("__c"),
                            F.col("frame_idx").alias("__k"), "fcode")
                  .localCheckpoint())
        n_frames = frames.count()
        n_codes = frames.select("fcode").distinct().count()

        # NEAR-tier band events over the distinct-code table, counted
        # BEFORE the Hamming gate — the volume whose growth vs n is
        # the sub-quadratic verdict
        codes = frames.select("fcode").distinct()
        cand_events = bucketed_pair_events(
            simhash_bands(codes, "fcode", "fcode",
                          AUDIO_FRAME_BAND_LAYOUT),
            AUDIO_FRAME_BUCKET_CAP,
            payload=("fcode",)).count()

        # vote-join cardinality (frames x matched codes x clips/code,
        # every factor df-capped) — the exact-tier volume
        m = _code_match_table(frames).localCheckpoint()
        fin = frames.join(
            m.select(F.col("c1").alias("fcode")).distinct(), "fcode")
        right = (frames.select(F.col("__c").alias("__cb"), "fcode")
                 .distinct()
                 .select("__cb", F.col("fcode").alias("c2")))
        vote_join_rows = (fin.join(m, fin["fcode"] == m["c1"])
                          .join(right, "c2")
                          .where(F.col("__c") < F.col("__cb")).count())

        assign = audio_frame_cluster_assignments(clips.select(
            "clip_id", "bytes")).localCheckpoint()
        # pair recall/precision vs planted truth, pair-counting form:
        # |pairs agreeing in both| / |truth pairs| (and / |found pairs|)
        j = (assign.withColumnRenamed("cluster_id", "g")
             .join(truth, "clip_id"))
        gsize = (j.groupBy("g").count().withColumnRenamed("count", "ng")
                 .agg(F.sum(F.expr("ng * (ng - 1) / 2"))
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
            "n_clips": n, "n_frames": n_frames, "n_codes": n_codes,
            "near_band_events": cand_events,
            "vote_join_rows": vote_join_rows,
            "pair_recall": round(recall, 5),
            "pair_precision": round(precision, 5),
            "wall_s": round(dt, 1)}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
