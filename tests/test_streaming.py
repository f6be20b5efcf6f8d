"""Structured Streaming tests: exact dedup within watermark, incremental
LSH dedup via foreachBatch + signature store, mergeable sketch state.
test_windowed_quantiles gates the streaming_windowed_quantiles query
class."""

import os

import pyspark.sql.functions as F
import pytest

from datasketches_rust_spark.config import DedupConfig
from datasketches_rust_spark.streaming import (
    exact_dedup_stream, incremental_dedup_foreach_batch,
    read_merged_sketches, sketch_stream)

CFG = DedupConfig()


@pytest.fixture()
def stream_src(spark, sf_correct_dir, tmp_path):
    """documents as a parquet stream source (one file -> one batch)."""
    docs = spark.read.parquet(f"{sf_correct_dir}/documents.parquet")
    src = str(tmp_path / "src")
    docs.where("doc_id < 250").coalesce(1).write.parquet(src)
    docs.where("doc_id >= 250").coalesce(1).write.mode("append").parquet(src)
    return src, docs


def test_exact_dedup_stream(spark, tmp_path):
    import datetime
    rows = [(i, "same text" if i % 2 == 0 else f"text {i}",
             datetime.datetime(2026, 1, 1, 0, 0, i)) for i in range(20)]
    src = str(tmp_path / "exact_src")
    spark.createDataFrame(rows, "id long, text string, ts timestamp") \
        .coalesce(1).write.parquet(src)
    stream = (spark.readStream.schema("id long, text string, ts timestamp")
              .parquet(src))
    out = exact_dedup_stream(stream, "id", "text", "ts")
    sink = str(tmp_path / "exact_out")
    q = (out.writeStream.format("parquet")
         .option("path", sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.read.parquet(sink)
    # 10 distinct odd texts + 1 survivor of "same text"
    assert got.count() == 11
    assert got.where(F.col("text") == "same text").count() == 1


def test_incremental_lsh_dedup_matches_batch(spark, stream_src, tmp_path):
    """Streaming (2 micro-batches) finds the same verified pairs as the
    batch pipeline on the full table."""
    src, docs = stream_src
    from datasketches_rust_spark.pipeline import dedup_pairs
    want = {(r["id_a"], r["id_b"]) for r in
            dedup_pairs(docs, CFG, "doc_id", "text").collect()}

    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    store = str(tmp_path / "store")
    pairs_dir = str(tmp_path / "pairs")
    fb = incremental_dedup_foreach_batch(CFG, "doc_id", "text", store,
                                         pairs_dir)
    q = (stream.writeStream.foreachBatch(fb)
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = {(r["id_a"], r["id_b"]) for r in
           spark.read.parquet(pairs_dir).select("id_a", "id_b")
           .distinct().collect()}
    assert got == want
    assert len(got) == 25


def test_sketch_stream_merge(spark, sf_correct_dir, tmp_path):
    """Per-batch theta partials merged at read == exact distinct count."""
    li = spark.read.parquet(f"{sf_correct_dir}/lineitem.parquet")
    src = str(tmp_path / "li_src")
    li.repartition(4).write.parquet(src)
    stream = (spark.readStream.schema(li.schema)
              .option("maxFilesPerTrigger", 2).parquet(src))
    state = str(tmp_path / "state")
    q = sketch_stream(stream, [], "l_partkey", "theta", state,
                      lg_k=16).start()
    q.awaitTermination(300)

    from datasketches_rust_spark import agg
    merged = read_merged_sketches(spark, state, [], "theta")
    est = merged.select(agg.estimate_udf("theta", as_long=True)(
        "sketch").alias("e")).first()["e"]
    exact = li.select(F.countDistinct("l_partkey")).first()[0]
    assert est == exact


def test_stateful_sketch_estimates(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: per-key HLL state
    updated across TWO micro-batches. The second batch's emitted
    rows_seen must include the first batch's rows (state persisted), and
    the final estimate must be within the HLL error band of the exact
    per-key distinct count over BOTH batches."""
    from datasketches_rust_spark.streaming import stateful_sketch_estimates

    rows = [(("a" if i % 2 == 0 else "b"), f"user{i % 400}", i)
            for i in range(1200)]
    src = str(tmp_path / "state_src")
    df = spark.createDataFrame(rows, "grp string, user string, seq long")
    df.where("seq < 600").coalesce(1).write.parquet(src)
    df.where("seq >= 600").coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema("grp string, user string, seq long")
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = stateful_sketch_estimates(stream, ["grp"], "user",
                                    kind="hll", lg_k=12)
    sink = str(tmp_path / "state_out")

    def emit(batch, _bid):  # parquet sink rejects Update mode
        batch.write.mode("append").parquet(sink)

    q = (out.writeStream.outputMode("update").foreachBatch(emit)
         .option("checkpointLocation", str(tmp_path / "state_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = spark.read.parquet(sink).collect()
    # one emitted row per (key, micro-batch): 2 keys x 2 batches
    assert len(got) == 4
    final = {}
    for r in got:
        cur = final.get(r["grp"])
        if cur is None or r["rows_seen"] > cur["rows_seen"]:
            final[r["grp"]] = r
    # state persisted across batches: all 600 rows per key seen at the end
    assert final["a"]["rows_seen"] == 600
    assert final["b"]["rows_seen"] == 600
    # exact distinct users per key: 200 even / 200 odd of user{0..399}
    for grp in ("a", "b"):
        assert abs(final[grp]["estimate"] - 200) / 200 < 0.05


def test_windowed_sketch_estimates(spark, tmp_path):
    """Event-time windowed HLL with watermark finalization: three
    time-ordered micro-batches; when the watermark (5 s) passes a 10 s
    window's end the operator must emit its final=true row and evict the
    state, while the newest window stays open (running rows only)."""
    import datetime
    from datasketches_rust_spark.streaming import windowed_sketch_estimates

    def batch(ts0, n, off):
        base = datetime.datetime(2026, 1, 1, 0, 0, 0)
        return [(base + datetime.timedelta(seconds=ts0 + i % 10),
                 f"user{off + i}") for i in range(n)]

    src = str(tmp_path / "win_src")
    schema = "ts timestamp, user string"
    # window [0,10) -> 40 users, window [20,30) -> 30, window [60,70) -> 20
    for rows in (batch(0, 40, 0), batch(20, 30, 1000), batch(60, 20, 2000)):
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = windowed_sketch_estimates(stream, [], "ts", "user",
                                    window_duration="10 seconds",
                                    watermark="5 seconds",
                                    kind="hll", lg_k=12)
    sink = str(tmp_path / "win_out")

    def emit(b, _bid):  # parquet sink rejects Update mode
        b.write.mode("append").parquet(sink)

    q = (out.writeStream.outputMode("update").foreachBatch(emit)
         .option("checkpointLocation", str(tmp_path / "win_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = spark.read.parquet(sink).collect()
    base = datetime.datetime(2026, 1, 1, 0, 0, 0)
    by_win = {}
    for r in got:
        off = int((r["window_start"] - base).total_seconds())
        by_win.setdefault(off, []).append(r)

    # batch order advances the watermark: after batch 2 (max ts 29 s) the
    # watermark is 24 s > window[0,10).end -> that window must have been
    # finalized and evicted; the last window (60 s) never closes.
    finals = {s: [r for r in rs if r["final"]] for s, rs in by_win.items()}
    assert len(finals[0]) == 1 and finals[0][0]["rows_seen"] == 40
    assert not finals[60]
    # running rows exist for every window, and estimates are near-exact
    # at these cardinalities (HLL lg_k=12 on <=40 distinct values)
    for sec, n in ((0, 40), (20, 30), (60, 20)):
        last = max(by_win[sec], key=lambda r: r["rows_seen"])
        assert last["rows_seen"] == n
        assert abs(last["estimate"] - n) / n < 0.05


def test_windowed_sketch_estimates_sliding(spark, tmp_path):
    """Sliding windows (W=20s, S=10s): every row feeds exactly two
    covering windows; the watermark finalizes the two earliest windows
    after the third micro-batch."""
    import datetime
    from datasketches_rust_spark.streaming import windowed_sketch_estimates

    base = datetime.datetime(2026, 1, 1, 0, 0, 0)

    def batch(ts0, n, off):
        return [(base + datetime.timedelta(seconds=ts0 + i % 10),
                 f"user{off + i}") for i in range(n)]

    src = str(tmp_path / "slide_src")
    schema = "ts timestamp, user string"
    # rows at [0,10) -> windows starting -10 and 0;
    # rows at [20,30) -> windows 10 and 20; rows at [60,70) -> 50 and 60
    for rows in (batch(0, 40, 0), batch(20, 30, 1000), batch(60, 20, 2000)):
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = windowed_sketch_estimates(stream, [], "ts", "user",
                                    window_duration="20 seconds",
                                    slide="10 seconds",
                                    watermark="5 seconds",
                                    kind="hll", lg_k=12)
    sink = str(tmp_path / "slide_out")

    def emit(b, _bid):
        b.write.mode("append").parquet(sink)

    q = (out.writeStream.outputMode("update").foreachBatch(emit)
         .option("checkpointLocation", str(tmp_path / "slide_ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)

    got = spark.read.parquet(sink).collect()
    by_win = {}
    for r in got:
        off = int((r["window_start"] - base).total_seconds())
        by_win.setdefault(off, []).append(r)

    # each batch lands in exactly its two covering windows
    assert set(by_win) == {-10, 0, 10, 20, 50, 60}
    expect = {-10: 40, 0: 40, 10: 30, 20: 30, 50: 20, 60: 20}
    for off, n in expect.items():
        last = max(by_win[off], key=lambda r: r["rows_seen"])
        assert last["rows_seen"] == n
        assert abs(last["estimate"] - n) / n < 0.05
        # window width is W, start aligned to S
        assert int((last["window_end"]
                    - last["window_start"]).total_seconds()) == 20
    # the final watermark is 69-5 = 64s (availableNow processes timeouts
    # in a trailing no-data batch): every window ending <= 64s must have
    # finalized — (-10,10], [0,20), [10,30), [20,40) — while the newest
    # two ([50,70), [60,80)) must still be open
    finals = {o for o, rs in by_win.items() if any(r["final"] for r in rs)}
    assert finals == {-10, 0, 10, 20}


def test_streaming_sessions(spark, tmp_path):
    """Gap-based stateful sessionization over three micro-batches:
    within-gap events extend a session across batches, a beyond-gap
    event closes the old session and opens a new one, and the advancing
    watermark finalizes idle sessions via event-time timeout."""
    import datetime
    from datasketches_rust_spark.streaming import streaming_sessions

    base = datetime.datetime(2026, 1, 1, 0, 0, 0)

    def ev(user, *secs):
        return [(base + datetime.timedelta(seconds=s), user) for s in secs]

    src = str(tmp_path / "sess_src")
    schema = "ts timestamp, user string"
    # gap = 10 s. alice: events 0,4 | 8 (extends: 8-4 <= 10) | 40,41
    # (40-8 > 10: closes session [0,8]x3, opens [40,41]x2).
    # bob: 0,1 then silent -> finalized by the watermark advancing past
    # 1+gap once later batches raise max event time.
    batches = [
        ev("alice", 0, 4) + ev("bob", 0, 1),
        ev("alice", 8),
        ev("alice", 40, 41) + ev("carol", 100),  # carol drives watermark
    ]
    for rows in batches:
        spark.createDataFrame([(t, u) for t, u in rows], schema) \
            .coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = streaming_sessions(stream, ["user"], "ts",
                             gap="10 seconds", watermark="5 seconds")
    sink = str(tmp_path / "sess_out")

    def emit(b, _bid):
        b.write.mode("append").parquet(sink)

    q = (out.writeStream.outputMode("update").foreachBatch(emit)
         .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)

    got = {}
    for r in spark.read.parquet(sink).collect():
        s = int((r["session_start"] - base).total_seconds())
        e = int((r["session_end"] - base).total_seconds())
        got.setdefault(r["user"], set()).add((s, e, r["n_events"]))

    # alice's first session spans batches 1-2 and closes in batch 3;
    # her second ([40,41]) ends 41+gap=51 < watermark 95 -> timed out
    assert got["alice"] == {(0, 8, 3), (40, 41, 2)}
    # bob went silent; the watermark (95 s after batch 3) passed 1+gap
    assert got["bob"] == {(0, 1, 2)}
    # carol's session is still open (100+gap > watermark) -> no row
    assert "carol" not in got


def test_windowed_topk(spark, tmp_path):
    """Windowed trending items: known per-window frequencies over three
    micro-batches; the watermark finalizes the first window with its
    EXACT top-3 (distinct items far below the sketch's purge load), the
    newest window stays open (running rows only)."""
    import datetime
    from datasketches_rust_spark.streaming import windowed_topk

    base = datetime.datetime(2026, 1, 1, 0, 0, 0)

    def batch(sec, items):
        return [(base + datetime.timedelta(seconds=sec + i % 10), it)
                for i, it in enumerate(items)]

    src = str(tmp_path / "topk_src")
    schema = "ts timestamp, item string"
    # window [0,10): a x5, b x3, c x1; window [60,70): z x2
    batches = [
        batch(0, ["a", "a", "b", "c", "a"]),
        batch(0, ["a", "b", "b", "a"]),
        batch(60, ["z", "z"]),
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = windowed_topk(stream, [], "ts", "item",
                        window_duration="10 seconds",
                        watermark="5 seconds", k=3, max_map_size=64)
    sink = str(tmp_path / "topk_out")

    def emit(b, _bid):
        b.write.mode("append").parquet(sink)

    q = (out.writeStream.outputMode("update").foreachBatch(emit)
         .option("checkpointLocation", str(tmp_path / "topk_ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)

    got = spark.read.parquet(sink).collect()
    finals = sorted(
        ((r["rank"], r["item"], r["est"]) for r in got
         if r["final"] and int((r["window_start"] - base)
                               .total_seconds()) == 0))
    # batch 3 (max ts 69) advances the watermark past window[0,10).end
    # -> finalized with exact counts a=5, b=3, c=1
    assert finals == [(1, "a", 5), (2, "b", 3), (3, "c", 1)]
    # the 60s window never closes: running rows only
    assert not [r for r in got if r["final"]
                and int((r["window_start"] - base).total_seconds()) == 60]
    running_z = [r for r in got if not r["final"] and r["item"] == "z"]
    assert running_z and max(r["est"] for r in running_z) == 2


def test_windowed_quantiles(spark, tmp_path):
    """Windowed p50/p95 over three micro-batches: the finalized first
    window's quantiles come from its FULL cross-batch value set (state
    merges across batches), within t-digest tolerance of numpy; the
    newest window stays open."""
    import datetime
    import numpy as np
    from datasketches_rust_spark.streaming import windowed_quantiles

    base = datetime.datetime(2026, 1, 1, 0, 0, 0)

    def batch(sec, vals):
        return [(base + datetime.timedelta(seconds=sec + i % 10),
                 float(v)) for i, v in enumerate(vals)]

    rng = np.random.RandomState(3)
    w0a = rng.exponential(10, 120)          # window [0,10), batch 1
    w0b = rng.exponential(10, 80)           # window [0,10), batch 2
    w6 = rng.exponential(10, 40)            # window [60,70), batch 3
    src = str(tmp_path / "wq_src")
    schema = "ts timestamp, v double"
    for rows in (batch(0, w0a), batch(0, w0b), batch(60, w6)):
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = windowed_quantiles(stream, [], "ts", "v",
                             window_duration="10 seconds",
                             watermark="5 seconds",
                             quantiles=(0.5, 0.95))
    sink = str(tmp_path / "wq_out")

    def emit(b, _bid):
        b.write.mode("append").parquet(sink)

    q = (out.writeStream.outputMode("update").foreachBatch(emit)
         .option("checkpointLocation", str(tmp_path / "wq_ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)

    got = spark.read.parquet(sink).collect()
    fin = [r for r in got if r["final"]
           and int((r["window_start"] - base).total_seconds()) == 0]
    assert len(fin) == 1 and fin[0]["n"] == 200
    full = np.concatenate([w0a, w0b])
    for qv, col in ((0.5, "p50"), (0.95, "p95")):
        truth = float(np.quantile(full, qv))
        assert abs(fin[0][col] - truth) / truth < 0.08, (col, truth)
    # the 60s window never closes; its running row covers all 40 values
    open_rows = [r for r in got if not r["final"]
                 and int((r["window_start"] - base).total_seconds()) == 60]
    assert open_rows and max(r["n"] for r in open_rows) == 40


def test_interval_join_streams_cross_batch(spark, tmp_path):
    """Stream-stream interval join across micro-batches: a click buffered
    in batch-1 state must still match a purchase arriving in batch 2
    (within the delay bound), while out-of-window and wrong-key
    purchases never match."""
    import datetime
    from datasketches_rust_spark.streaming import interval_join_streams

    base = datetime.datetime(2026, 1, 1, 0, 0, 0)

    def row(kind, user, sec, eid):
        return (base + datetime.timedelta(seconds=sec), user, kind, eid)

    src = str(tmp_path / "sij_src")
    schema = "ts timestamp, user string, kind string, id long"
    batches = [
        # click + a same-batch purchase 100 s later
        [row("click", "alice", 0, 1), row("purchase", "alice", 100, 2),
         row("purchase", "bob", 10, 5)],          # wrong user: no match
        # cross-batch purchase at 1800 s (inside the hour) and one at
        # 4000 s (outside 3600 s): the click must still be in state
        [row("purchase", "alice", 1800, 3),
         row("purchase", "alice", 4000, 4)],
    ]
    for rows in batches:
        spark.createDataFrame(rows, schema) \
            .coalesce(1).write.mode("append").parquet(src)

    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    clicks = (stream.where("kind = 'click'")
              .selectExpr("user AS c_user", "id AS click_id",
                          "ts AS click_ts"))
    purchases = (stream.where("kind = 'purchase'")
                 .selectExpr("user AS p_user", "id AS purchase_id",
                             "ts AS purchase_ts"))
    out = interval_join_streams(clicks, purchases,
                                [("c_user", "p_user")],
                                "click_ts", "purchase_ts",
                                max_delay="1 hour")
    sink = str(tmp_path / "sij_out")

    def emit(b, _bid):
        b.write.mode("append").parquet(sink)

    q = (out.writeStream.outputMode("append").foreachBatch(emit)
         .option("checkpointLocation", str(tmp_path / "sij_ckpt"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)

    got = {(r["click_id"], r["purchase_id"])
           for r in spark.read.parquet(sink).collect()}
    # same-batch match (1,2) and cross-batch match (1,3); the 4000 s
    # purchase is beyond max_delay and bob's is a different key
    assert got == {(1, 2), (1, 3)}
