"""Video axis: container round-trip, frame-sketch parity with the
numpy kernel, temporal-vote semantics (intro-sharing negatives must not
connect), and the pipeline recall/precision gate vs planted truth,
which gates the video_dedup_clusters query class."""

from collections import defaultdict

import numpy as np

from datasketches_rust_spark.pipeline_video import (
    VIDEO_MIN_FRAME_MATCHES,
    video_cluster_assignments,
    video_frame_sketches,
)
from datasketches_rust_spark.sources.codec import encode_png
from datasketches_rust_spark.sources.phash import phash64
from datasketches_rust_spark.sources.video import (
    VIDEO_SCHEMA,
    _frames,
    _pack,
    generate_videos,
    video_spark_df,
)


def test_frame_sketches_match_numpy_kernel(spark):
    from datasketches_rust_spark.pipeline_video import _decode_frame
    local = generate_videos(30, seed=42)[0]
    # an empty container entry yields no row; the next frame keeps its
    # index
    f0, f2 = (encode_png(f) for f in _frames(42, 7)[:2])
    local.loc[len(local)] = ["vid_gap", _pack([f0, b"", f2]), 3]
    df = spark.createDataFrame(local, schema=VIDEO_SCHEMA)
    got = defaultdict(dict)
    for r in video_frame_sketches(df).collect():
        got[r.video_id][r.frame_idx] = r.phash
    assert got.pop("vid_gap") == {0: phash64(_decode_frame(f0)),
                                  2: phash64(_decode_frame(f2))}
    for r in local[:-1].itertuples():
        buf = bytes(r.bytes)
        pos, idx = 0, 0
        while pos + 4 <= len(buf):
            ln = int(np.frombuffer(buf, "<u4", 1, pos)[0])
            frame = buf[pos + 4:pos + 4 + ln]
            assert got[r.video_id][idx] == phash64(_decode_frame(frame))
            pos += 4 + ln
            idx += 1
        assert len(got[r.video_id]) == r.n_frames

    # a batch in which no video has a frame (empty, one empty entry,
    # null): no rows, and the declared types
    frameless = spark.createDataFrame(
        [("a", b"", 0), ("b", _pack([b""]), 1), ("c", None, 0)],
        schema=VIDEO_SCHEMA).coalesce(1)
    out = video_frame_sketches(frameless)
    assert out.collect() == []
    assert out.dtypes == [("video_id", "string"), ("frame_idx", "int"),
                          ("phash", "bigint")]


def test_adjacent_frames_not_near_dups():
    # the motion step must exceed the per-frame Hamming gate, or a
    # video would self-match every other video through static frames
    phs = [phash64(f) for f in _frames(42, 5)]
    hams = [bin(phs[k] ^ phs[k + 1]).count("1")
            for k in range(len(phs) - 1)]
    assert min(hams) > 3


def test_pipeline_recall_precision_and_hard_negative(spark):
    vids, truth = video_spark_df(spark, 1000, seed=42)
    # a null bytes value has no frames: that video is a singleton
    null = spark.createDataFrame([("vid_null", None, 0)], VIDEO_SCHEMA)
    got = video_cluster_assignments(vids.unionByName(null)).collect()
    t = {r.video_id: r.cluster_id for r in truth.collect()}
    g = {r.video_id: r.cluster_id for r in got}
    assert g.pop("vid_null") == "vid_null"
    assert set(t) == set(g)
    tc, gc = defaultdict(set), defaultdict(set)
    for k, v in t.items():
        tc[v].add(k)
    for k, v in g.items():
        gc[v].add(k)
    tp = {frozenset((a, b)) for m in tc.values()
          for a in m for b in m if a < b}
    gp = {frozenset((a, b)) for m in gc.values()
          for a in m for b in m if a < b}
    inter = len(tp & gp)
    assert inter / len(tp) >= 0.99
    assert inter / max(len(gp), 1) >= 0.99
    # hard negatives (intro-sharing) are singletons in truth; the vote
    # threshold must keep them singletons in the prediction too
    singles_t = {next(iter(m)) for m in tc.values() if len(m) == 1}
    merged = [c for c in singles_t if len(gc[g[c]]) > 1]
    assert not merged
    assert VIDEO_MIN_FRAME_MATCHES > 1  # one shared frame never connects


def test_video_edges_plan_one_decode_no_cache_no_rejoin(spark):
    """Each frame's (video, frame_idx) rides the band exchange as the
    pair operator's payload: one frame-decode pass (an Arrow one over
    the video id and bytes), no cached frame table, and no join (the
    vote reads both videos off the frame pairs; nothing maps frame ids
    back to videos)."""
    import re

    from pyspark.sql import functions as F

    from datasketches_rust_spark.pipeline_video import video_edges
    vids, _ = video_spark_df(spark, 40, seed=1, partitions=2)
    vids = vids.localCheckpoint()  # the fixture's own synthesis pass
    edges = video_edges(vids.withColumn("__lid", F.xxhash64("video_id"))
                        .select("__lid", "bytes"), "__lid")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = edges._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert len(re.findall(r"MapInArrow \w+\(__vid#\d+L, __b#\d+\)",
                          plan)) == 1, plan
    assert "MapInPandas" not in plan, plan
    assert "InMemoryTableScan" not in plan, plan
    assert "Join" not in plan, plan
