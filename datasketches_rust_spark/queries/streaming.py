"""Streaming query classes: each runs a real Structured Streaming query
(availableNow over the events table) and returns what its sink
collected."""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import functions as F

from datasketches_rust_spark.queries._common import (_SCD2_VERSIONS_CTE,
                                                     DRIFT_SPLIT_DAY,
                                                     _scd2_versions, _t)
from datasketches_rust_spark.queries._registry import query


@query(oracle="""
        WITH e AS (
          SELECT user_id, epoch_us(ts::TIMESTAMP) AS us FROM events
        ), mx AS (SELECT max(us) AS m FROM e),
        s AS (
          SELECT user_id, us,
                 CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w > 1800000000
                      THEN 1 ELSE 0 END AS brk
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us)
        ), g AS (
          SELECT user_id, us,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY us
                                ROWS UNBOUNDED PRECEDING) AS sid
          FROM s
        ), sess AS (
          SELECT user_id, min(us) AS start_us, max(us) AS end_us,
                 count(*) AS n_events
          FROM g GROUP BY user_id, sid
        )
        -- finalized = the event-time timeout (last + gap) lies strictly
        -- behind the final watermark (max event time; delay 0)
        SELECT user_id, start_us, end_us, n_events
        FROM sess, mx WHERE end_us + 1800000000 < m""")
def q_streaming_sessions(spark, sf_dir):
    """Runs a REAL Structured Streaming job — gap-based stateful
    sessionization (streaming/dedup.streaming_sessions,
    applyInPandasWithState + EventTimeTimeout) over the events table via
    availableNow into a memory sink — and returns the FINALIZED sessions
    (watermark delay 0, so a session is closed iff its event-time
    timeout last_event + gap lies behind the final watermark = max event
    time). Deterministic end-to-end: timestamps emitted as unix micros,
    so the result hash-matches a pure-SQL sessionization oracle
    restricted by the same watermark rule. The second streaming query
    under the driver's hash gate (next to streaming_exact_dedup)."""
    import os
    import shutil
    import tempfile
    import uuid
    from datasketches_rust_spark.streaming import streaming_sessions
    ev_path = f"{sf_dir}/events.parquet"
    src_dir = tempfile.mkdtemp(prefix="dsrs_ss_src_")
    ck = tempfile.mkdtemp(prefix="dsrs_ss_ck_")
    try:
        os.symlink(os.path.abspath(ev_path),
                   os.path.join(src_dir, "events.parquet"))
        schema = spark.read.parquet(ev_path).schema
        stream = (spark.readStream.schema(schema).parquet(src_dir)
                  .select("user_id",
                          F.col("ts").cast("timestamp").alias("ts")))
        out = streaming_sessions(stream, ["user_id"], "ts",
                                 gap="30 minutes", watermark="0 seconds")
        name = "dsrs_ss_" + uuid.uuid4().hex[:8]
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("update")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_sessions did not finish within 300s")
        return (spark.table(name)
                .select("user_id",
                        F.unix_micros("session_start").alias("start_us"),
                        F.unix_micros("session_end").alias("end_us"),
                        "n_events"))
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


@query(oracle="""
        SELECT a.user_id AS user_id,
               a.event_id AS click_id,
               b.event_id AS purchase_id,
               epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND a.event_type = 'click' AND b.event_type = 'purchase'
         AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 HOUR""")
def q_streaming_interval_join(spark, sf_dir):
    """Runs a REAL Structured Streaming job — a STREAM-STREAM interval
    join (streaming/dedup.interval_join_streams): every click pairs with
    the same user's purchases landing within the following hour, both
    sides arriving as watermarked streams, availableNow into a memory
    sink. The time-range condition + double watermark is what bounds the
    join state at scale (each side buffers ~1 hour per key, not its full
    history). Deterministic: inner-join matches are emitted exactly once
    regardless of micro-batching, timestamps exported as the integer
    gap in microseconds, so the result hash-matches the plain SQL
    interval self-join oracle (33 pairs at sf0.01 — non-vacuous)."""
    import os
    import shutil
    import tempfile
    import uuid
    from datasketches_rust_spark.streaming import interval_join_streams
    ev_path = f"{sf_dir}/events.parquet"
    src_dir = tempfile.mkdtemp(prefix="dsrs_sij_src_")
    ck = tempfile.mkdtemp(prefix="dsrs_sij_ck_")
    try:
        os.symlink(os.path.abspath(ev_path),
                   os.path.join(src_dir, "events.parquet"))
        schema = spark.read.parquet(ev_path).schema
        stream = spark.readStream.schema(schema).parquet(src_dir)
        clicks = (stream.where(F.col("event_type") == "click")
                  .select(F.col("user_id").alias("user_id"),
                          F.col("event_id").alias("click_id"),
                          F.col("ts").cast("timestamp").alias("click_ts")))
        purchases = (stream.where(F.col("event_type") == "purchase")
                     .select(F.col("user_id").alias("p_user_id"),
                             F.col("event_id").alias("purchase_id"),
                             F.col("ts").cast("timestamp")
                             .alias("purchase_ts")))
        out = (interval_join_streams(
            clicks, purchases, [("user_id", "p_user_id")],
            "click_ts", "purchase_ts", max_delay="1 hour")
            .select("user_id", "click_id", "purchase_id",
                    (F.unix_micros("purchase_ts")
                     - F.unix_micros("click_ts")).alias("gap_us")))
        name = "dsrs_sij_" + uuid.uuid4().hex[:8]
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("append")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_interval_join did not finish within 300s")
        return spark.table(name)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


@query(oracle_replace="CAST(rev_cents AS BIGINT) AS rev_cents", oracle="""
        SELECT c.c_mktsegment,
               count(*) AS n_purchases,
               sum(CAST(round(e.value * 100) AS BIGINT)) AS rev_cents
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        WHERE e.event_type = 'purchase'
        GROUP BY c.c_mktsegment""")
def q_streaming_enriched_segments(spark, sf_dir):
    """REAL streaming STREAM-STATIC enrichment — the remaining
    streaming-join shape next to the stream-stream interval join: the
    events stream joins the static customer dimension (planned as a
    per-micro-batch BroadcastHashJoin — no watermark, no join state;
    the batch side is re-broadcast per trigger, so at scale you keep
    the dim compact or move point lookups into a state store) and
    feeds a running per-segment aggregate (purchase count + revenue
    cents), availableNow into a complete-mode memory sink. Totals are
    deterministic integers regardless of micro-batching, so the gate
    is the full hash-match against the plain join+group oracle — a
    5-row non-vacuous result at sf0.01."""
    import os
    import shutil
    import tempfile
    import uuid
    ev_path = f"{sf_dir}/events.parquet"
    src_dir = tempfile.mkdtemp(prefix="dsrs_sse_src_")
    ck = tempfile.mkdtemp(prefix="dsrs_sse_ck_")
    try:
        os.symlink(os.path.abspath(ev_path),
                   os.path.join(src_dir, "events.parquet"))
        schema = spark.read.parquet(ev_path).schema
        stream = (spark.readStream.schema(schema).parquet(src_dir)
                  .where(F.col("event_type") == "purchase"))
        cust = _t(spark, sf_dir, "customer").select(
            F.col("c_custkey"), F.col("c_mktsegment"))
        enriched = stream.join(
            F.broadcast(cust),
            stream["user_id"] == cust["c_custkey"])
        out = (enriched.groupBy("c_mktsegment")
               .agg(F.count("*").alias("n_purchases"),
                    F.sum(F.round(F.col("value") * 100).cast("long"))
                    .alias("rev_cents")))
        name = "dsrs_sse_" + uuid.uuid4().hex[:8]
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("complete")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_enriched_segments did not finish within 300s")
        return spark.table(name)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


@query(oracle="""
        WITH e AS (
          SELECT epoch_us(ts::TIMESTAMP) AS us, event_type FROM events
        ), mx AS (SELECT max(us) AS m FROM e),
        c AS (
          SELECT (us - us % 86400000000) AS ws, event_type AS item,
                 count(*) AS est
          FROM e GROUP BY 1, 2
        ), t AS (
          SELECT ws, item, est,
                 cast(row_number() OVER (PARTITION BY ws
                                         ORDER BY est DESC, item)
                      AS INT) AS rank
          FROM c QUALIFY rank <= 3
        )
        -- one data micro-batch: every window emits its running top-3
        SELECT ws AS ws_us, ws + 86400000000 AS we_us, rank, item, est,
               false AS final
        FROM t
        UNION ALL
        -- cleanup batch: event-time timeouts fire for every window
        -- whose end lies strictly behind the final watermark (delay 0)
        SELECT ws, ws + 86400000000, rank, item, est, true
        FROM t, mx WHERE ws + 86400000000 < m""")
def q_streaming_windowed_topk(spark, sf_dir):
    """REAL streaming windowed TOP-K (trending items): daily event-time
    windows over the events stream, one frequent-items sketch of state
    per window, run availableNow into a memory sink. Deterministic
    end-to-end because the source is one file -> ONE data micro-batch
    (every window's running top-3 reflects its full day) plus the
    engine's cleanup batch firing the event-time timeouts (final rows
    for every window behind the final watermark = max event time,
    delay 0). Exact, not approximate: 5 distinct event types is far
    below the sketch's 0.75*max_map_size purge load. Hash-matches a
    pure-SQL daily-top-3 oracle that mirrors the finalization rule."""
    import os
    import shutil
    import tempfile
    import uuid
    from datasketches_rust_spark.streaming import windowed_topk
    ev_path = f"{sf_dir}/events.parquet"
    src_dir = tempfile.mkdtemp(prefix="dsrs_wtk_src_")
    ck = tempfile.mkdtemp(prefix="dsrs_wtk_ck_")
    try:
        os.symlink(os.path.abspath(ev_path),
                   os.path.join(src_dir, "events.parquet"))
        schema = spark.read.parquet(ev_path).schema
        stream = (spark.readStream.schema(schema).parquet(src_dir)
                  .select(F.col("ts").cast("timestamp").alias("ts"),
                          "event_type"))
        out = windowed_topk(stream, [], "ts", "event_type",
                            window_duration="1 day",
                            watermark="0 seconds", k=3)
        name = "dsrs_wtk_" + uuid.uuid4().hex[:8]
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("update")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_windowed_topk did not finish within 300s")
        return (spark.table(name)
                .select(F.unix_micros("window_start").alias("ws_us"),
                        F.unix_micros("window_end").alias("we_us"),
                        "rank", "item", "est", "final"))
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


@query(oracle="""
        WITH e AS (
          SELECT epoch_us(ts::TIMESTAMP) AS us, event_type, user_id
          FROM events
        ), mx AS (SELECT max(us) AS m FROM e),
        c AS (
          SELECT (us - us % 86400000000) AS ws, event_type,
                 CAST(count(DISTINCT user_id) AS DOUBLE) AS estimate,
                 count(*) AS rows_seen
          FROM e GROUP BY 1, 2)
        -- one data micro-batch: every window emits its running row
        SELECT ws AS ws_us, ws + 86400000000 AS we_us, event_type,
               estimate, rows_seen, false AS final
        FROM c
        UNION ALL
        -- cleanup batch: timeouts fire for windows strictly behind the
        -- final watermark (max event time, delay 0)
        SELECT ws, ws + 86400000000, event_type, estimate, rows_seen,
               true
        FROM c, mx WHERE ws + 86400000000 < m""")
def q_streaming_windowed_distinct(spark, sf_dir):
    """REAL streaming windowed DISTINCT-COUNT (daily active users per
    event type): one THETA sketch of engine-managed state per
    (event-time window, key) on the shared _windowed_state_apply
    plumbing — the streaming shape the built-in windowed agg cannot
    carry, because approx_count_distinct state is not exposed and exact
    count_distinct in update mode keeps every id; the theta blob is a
    few KB per open window regardless of stream volume AND merges
    across micro-batches. lg_k=16 keeps every window's sketch in exact
    mode at fixture NDV (150 users), so the running and finalized
    estimates hash-match the exact COUNT(DISTINCT) oracle — the same
    exact-mode discipline as theta_monthly_rollup. Deterministic
    end-to-end: one file -> one data micro-batch (running rows reflect
    each window's full day), then the engine's cleanup batch fires the
    event-time timeouts (final rows for windows behind the final
    watermark = max event time, delay 0)."""
    import os
    import shutil
    import tempfile
    import uuid
    from datasketches_rust_spark.streaming import windowed_sketch_estimates
    ev_path = f"{sf_dir}/events.parquet"
    src_dir = tempfile.mkdtemp(prefix="dsrs_wd_src_")
    ck = tempfile.mkdtemp(prefix="dsrs_wd_ck_")
    try:
        os.symlink(os.path.abspath(ev_path),
                   os.path.join(src_dir, "events.parquet"))
        schema = spark.read.parquet(ev_path).schema
        stream = (spark.readStream.schema(schema).parquet(src_dir)
                  .select(F.col("ts").cast("timestamp").alias("ts"),
                          "event_type", "user_id"))
        out = windowed_sketch_estimates(stream, ["event_type"], "ts",
                                        "user_id",
                                        window_duration="1 day",
                                        watermark="0 seconds",
                                        kind="theta", lg_k=16)
        name = "dsrs_wd_" + uuid.uuid4().hex[:8]
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("update")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_windowed_distinct did not finish within 300s")
        return (spark.table(name)
                .select(F.unix_micros("window_start").alias("ws_us"),
                        F.unix_micros("window_end").alias("we_us"),
                        "event_type", "estimate", "rows_seen", "final"))
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


@query(oracle="""
        WITH e AS (
          SELECT epoch_us(ts::TIMESTAMP) AS us, user_id FROM events
        ), mx AS (SELECT max(us) AS m FROM e),
        -- each row belongs to its 2 covering windows (W=2d, S=1d):
        -- starts d and d - 1 day, d = epoch-aligned day of the event
        w AS (
          SELECT unnest([us - us % 86400000000,
                         us - us % 86400000000 - 86400000000]) AS ws,
                 user_id
          FROM e),
        c AS (
          SELECT ws, CAST(count(DISTINCT user_id) AS DOUBLE) AS estimate,
                 count(*) AS rows_seen
          FROM w GROUP BY 1)
        SELECT ws AS ws_us, ws + 172800000000 AS we_us,
               estimate, rows_seen, false AS final
        FROM c
        UNION ALL
        SELECT ws, ws + 172800000000, estimate, rows_seen, true
        FROM c, mx WHERE ws + 172800000000 < m""")
def q_streaming_windowed_sliding(spark, sf_dir):
    """REAL streaming SLIDING-window distinct count (2-day window, 1-day
    slide — the rolling-active-users shape): exercises the sliding path
    of _windowed_state_apply under the driver hash gate — each event
    fans into its ceil(W/S)=2 covering windows via the integer-exact
    epoch-aligned explode, every covering window keeps its own theta
    state, and overlapping windows therefore report overlapping (not
    partitioned) user sets — the semantics a tumbling window cannot
    express. lg_k=16 exact mode again makes running + finalized rows
    hash-match the exact COUNT(DISTINCT) oracle, whose SQL mirrors the
    two covering starts per row (d and d - 1 day) and the
    behind-final-watermark finalization rule."""
    import os
    import shutil
    import tempfile
    import uuid
    from datasketches_rust_spark.streaming import windowed_sketch_estimates
    ev_path = f"{sf_dir}/events.parquet"
    src_dir = tempfile.mkdtemp(prefix="dsrs_ws_src_")
    ck = tempfile.mkdtemp(prefix="dsrs_ws_ck_")
    try:
        os.symlink(os.path.abspath(ev_path),
                   os.path.join(src_dir, "events.parquet"))
        schema = spark.read.parquet(ev_path).schema
        stream = (spark.readStream.schema(schema).parquet(src_dir)
                  .select(F.col("ts").cast("timestamp").alias("ts"),
                          "user_id"))
        out = windowed_sketch_estimates(stream, [], "ts", "user_id",
                                        window_duration="2 days",
                                        watermark="0 seconds",
                                        kind="theta", lg_k=16,
                                        slide="1 day")
        name = "dsrs_ws_" + uuid.uuid4().hex[:8]
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("update")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_windowed_sliding did not finish within 300s")
        return (spark.table(name)
                .select(F.unix_micros("window_start").alias("ws_us"),
                        F.unix_micros("window_end").alias("we_us"),
                        "estimate", "rows_seen", "final"))
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


@query(gate="tests/test_streaming.py")
def q_streaming_windowed_quantiles(spark, sf_dir):
    """REAL streaming windowed QUANTILES (p50/p95 event value per day)
    — the observability-metric shape with mergeable bounded t-digest
    state instead of per-trigger percentile_approx recomputation.
    Rows-only: t-digest mid-range quantiles are approximate, so
    cross-engine floats can't hash; accuracy is pytest-gated vs numpy
    on known distributions (tests/test_streaming.py)."""
    import os
    import shutil
    import tempfile
    import uuid
    from datasketches_rust_spark.streaming import windowed_quantiles
    ev_path = f"{sf_dir}/events.parquet"
    src_dir = tempfile.mkdtemp(prefix="dsrs_wq_src_")
    ck = tempfile.mkdtemp(prefix="dsrs_wq_ck_")
    try:
        os.symlink(os.path.abspath(ev_path),
                   os.path.join(src_dir, "events.parquet"))
        schema = spark.read.parquet(ev_path).schema
        stream = (spark.readStream.schema(schema).parquet(src_dir)
                  .select(F.col("ts").cast("timestamp").alias("ts"),
                          "value"))
        out = windowed_quantiles(stream, [], "ts", "value",
                                 window_duration="1 day",
                                 watermark="0 seconds",
                                 quantiles=(0.5, 0.95))
        name = "dsrs_wq_" + uuid.uuid4().hex[:8]
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("update")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_windowed_quantiles did not finish within 300s")
        return (spark.table(name)
                .select(F.unix_micros("window_start").alias("ws_us"),
                        "n", "p50", "p95", "final"))
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


@query(window=23, oracle="""
        SELECT DISTINCT md5(text) AS fp FROM documents""")
def q_streaming_exact_dedup(spark, sf_dir):
    """Runs a REAL Structured Streaming job — availableNow over the
    parquet dir through exact_dedup_stream (watermarked
    dropDuplicatesWithinWatermark on the content fingerprint) into a
    memory sink — and returns the surviving rows' distinct content
    fingerprints. Which row of a duplicate set survives is
    arrival-order-dependent, but the set of fingerprints is
    deterministic, so the result hash-matches the SQL oracle. Puts the
    streaming path under the driver's correctness gate."""
    import os
    import shutil
    import tempfile
    import uuid
    from datasketches_rust_spark.streaming import exact_dedup_stream
    docs_path = f"{sf_dir}/documents.parquet"
    # the streaming file source lists a DIRECTORY for arriving files; the
    # fixture tables are single files, so expose the file through a temp
    # dir symlink (no data copy)
    src_dir = tempfile.mkdtemp(prefix="dsrs_sed_src_")
    ck = tempfile.mkdtemp(prefix="dsrs_sed_ck_")
    try:
        os.symlink(os.path.abspath(docs_path),
                   os.path.join(src_dir, "documents.parquet"))
        schema = spark.read.parquet(docs_path).schema
        stream = (spark.readStream.schema(schema).parquet(src_dir)
                  .withColumn("__ts",
                              F.to_timestamp(F.lit("2026-01-01 00:00:00"))))
        out = (exact_dedup_stream(stream, "doc_id", "text", "__ts")
               .select(F.md5("text").alias("fp")))
        name = "dsrs_sed_" + uuid.uuid4().hex[:8]
        q = (out.writeStream.format("memory").queryName(name)
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        # a partially-filled memory table would fail the gate with a
        # misleading data diff — surface the timeout instead
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_exact_dedup did not finish within 300s")
        # the memory sink holds the rows in the session; the source dir
        # and checkpoint are no longer needed — don't litter /tmp across
        # verification runs
        return spark.table(name)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


@query(oracle="""
    WITH e AS (
      SELECT epoch_us(ts::TIMESTAMP) AS us, CAST(ts AS DATE) AS day,
             event_type
      FROM events),
    c AS (
      SELECT (us - us % 86400000000) AS ws_us, event_type,
             count(*) AS n_events
      FROM e GROUP BY 1, 2),
    wt AS (SELECT ws_us, sum(n_events) AS tw FROM c GROUP BY 1),
    base AS (
      SELECT event_type, count(*) AS na FROM e
      WHERE day < DATE '2024-01-16' GROUP BY 1),
    bt AS (SELECT sum(na) AS ta FROM base),
    types AS (
      SELECT DISTINCT event_type FROM c
      UNION SELECT event_type FROM base),
    spine AS (
      SELECT w.ws_us, t.event_type
      FROM (SELECT DISTINCT ws_us FROM c) w CROSS JOIN types t),
    j AS (
      SELECT s.ws_us, s.event_type,
             coalesce(c.n_events, 0) AS n_events, b.na
      FROM spine s
      LEFT JOIN c ON c.ws_us = s.ws_us
                 AND c.event_type = s.event_type
      LEFT JOIN base b ON b.event_type = s.event_type)
    SELECT j.ws_us, j.event_type,
           CAST(j.n_events AS BIGINT) AS n_events,
           CAST(w.tw AS BIGINT) AS tw,
           CAST(j.n_events * 1000000 // w.tw AS BIGINT) AS share_ppm,
           CAST(coalesce(j.na, 0) * 1000000 // t.ta AS BIGINT)
             AS base_ppm,
           CASE WHEN j.n_events > 0 AND j.na > 0 THEN
             (CAST(j.n_events AS DOUBLE) / CAST(w.tw AS DOUBLE)
              - CAST(j.na AS DOUBLE) / CAST(t.ta AS DOUBLE))
             * ln((CAST(j.n_events AS DOUBLE) / CAST(w.tw AS DOUBLE))
                  / (CAST(j.na AS DOUBLE) / CAST(t.ta AS DOUBLE)))
           END AS psi_term
    FROM j JOIN wt w USING (ws_us)
    CROSS JOIN bt t""")
def q_streaming_drift_monitor(spark, sf_dir):
    """REAL streaming DRIFT MONITOR (the 9th streaming query — the
    serving-side counterpart of event_type_drift_report: watch the
    LIVE event-type mix drift away from the training baseline, per
    event-time day window). The stream side is a built-in windowed
    count (engine-managed state, watermark 0), so state per open
    window is one long per (window, type) — no custom state op needed;
    the PSI readout then runs BATCH-side on the collected window table
    joined against the STATIC baseline (the first-half-of-month mix
    from the batch table — the 'training mix'): per (window, type)
    rows with integer counts/ppm and the per-category PSI term, the
    same no-cross-row-float-sum discipline as the batch drift report.
    Deterministic end-to-end: one file -> one data micro-batch, update
    mode emits each window's full-day count exactly once."""
    import os
    import shutil
    import tempfile
    import uuid
    ev_path = f"{sf_dir}/events.parquet"
    src_dir = tempfile.mkdtemp(prefix="dsrs_drift_src_")
    ck = tempfile.mkdtemp(prefix="dsrs_drift_ck_")
    try:
        # stage the source via symlinks (no copy): testdata ships a
        # single parquet FILE; crafted fixtures write a DIRECTORY of
        # part files — the file-stream source does not follow a
        # directory symlink, so link the parts individually there
        if os.path.isdir(ev_path):
            parts = [f for f in sorted(os.listdir(ev_path))
                     if f.endswith(".parquet")]
            for i, f in enumerate(parts):
                os.symlink(os.path.join(os.path.abspath(ev_path), f),
                           os.path.join(src_dir, f"part{i}.parquet"))
        else:
            os.symlink(os.path.abspath(ev_path),
                       os.path.join(src_dir, "events.parquet"))
        schema = spark.read.parquet(ev_path).schema
        stream = (spark.readStream.schema(schema).parquet(src_dir)
                  .select(F.col("ts").cast("timestamp").alias("ts"),
                          "event_type"))
        counts = (stream.withWatermark("ts", "0 seconds")
                  .groupBy(F.window("ts", "1 day"), "event_type")
                  .count())
        name = "dsrs_drift_" + uuid.uuid4().hex[:8]
        q = (counts.writeStream.format("memory").queryName(name)
             .outputMode("update")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_drift_monitor did not finish within 300s")
        def _tbl():
            # each spark.table() call resolves to FRESH attribute ids
            # — the spine below both derives from and rejoins these
            # rows, and sharing one lineage trips the analyzer's
            # conflicting-references check on the self-join
            return (spark.table(name)
                    .select(F.unix_micros("window.start").alias("ws_us"),
                            # explicit self-alias mints a fresh
                            # attribute id — a bare reference keeps the
                            # view's fixed id and the self-joins clash
                            F.col("event_type").alias("event_type"),
                            F.col("count").alias("n_events")))

        tbl = _tbl()
        # batch-side readout: window totals + PSI vs the static
        # training baseline (first half of the month). The category
        # axis is the UNION of window and baseline types per window —
        # an inner join would silently drop exactly the strongest
        # drift signals (a NEW type the baseline never saw, a baseline
        # type that VANISHED from a window); those rows surface with a
        # NULL psi_term, the batch drift report's discipline.
        ev = _t(spark, sf_dir, "events")
        in_a = F.to_date("ts") < F.lit(DRIFT_SPLIT_DAY).cast("date")
        base = (ev.where(in_a).groupBy("event_type")
                .agg(F.count("*").alias("na")))
        bt = base.agg(F.sum("na").alias("ta"))
        wt = _tbl().groupBy("ws_us").agg(F.sum("n_events").alias("tw"))
        types = (_tbl().select("event_type")
                 .unionAll(base.select("event_type")).distinct())
        spine = _tbl().select("ws_us").distinct().crossJoin(
            F.broadcast(types))
        j = (spine.join(tbl, ["ws_us", "event_type"], "left")
             .join(wt, "ws_us")
             .join(F.broadcast(base), "event_type", "left")
             .crossJoin(F.broadcast(bt))
             .select("ws_us", "event_type",
                     F.coalesce("n_events", F.lit(0)).alias("n_events"),
                     "tw", "na", "ta"))
        pb = F.col("n_events").cast("double") / F.col("tw").cast("double")
        pa = F.col("na").cast("double") / F.col("ta").cast("double")
        return j.select(
            "ws_us", "event_type", "n_events", "tw",
            F.expr("n_events * 1000000 div tw").alias("share_ppm"),
            F.expr("coalesce(na, 0) * 1000000 div ta").alias("base_ppm"),
            F.when((F.col("n_events") > 0) & (F.col("na") > 0),
                   (pb - pa) * F.log(pb / pa)).alias("psi_term"))
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)


@query(window=40, oracle=f"""
    WITH {_SCD2_VERSIONS_CTE},
    p AS (
      SELECT user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             epoch_us(ts::TIMESTAMP) - 1 AS t_us
      FROM events WHERE event_type = 'purchase')
    SELECT vv.status AS prior_status,
           CAST(count(*) AS BIGINT) AS n_purchases,
           CAST(sum(p.cents) AS BIGINT) AS rev_cents
    FROM p LEFT JOIN v vv
      ON vv.user_id = p.user_id
     AND vv.valid_from_us <= p.t_us
     AND (vv.valid_to_us IS NULL OR p.t_us < vv.valid_to_us)
    GROUP BY 1""")
def q_streaming_scd2_enrichment(spark, sf_dir):
    """REAL streaming TEMPORAL (SCD2) enrichment — the streaming-join
    class the other nine queries don't cover: each streamed PURCHASE
    event is enriched with the user's STATUS VERSION valid ONE
    MICROSECOND BEFORE it ("what state was the user in when they
    bought" — the pre-conversion-state attribution readout, and the
    point-in-time lookup every leakage-safe online feature pipeline
    performs; scd2_daily_snapshot is its batch twin). The join is
    stream-static on the key PLUS the half-open interval residual
    valid_from <= t < valid_to; the dimension is the _scd2_versions
    interval table built from the same change log and broadcasts per
    micro-batch (version tables are entity-sized — at dimension scale
    the lookup moves into a keyed state store, same semantics). A
    user's FIRST-ever event has no prior state and keeps NULL status
    (the gate covers the no-match edge; probing AT ts instead of
    ts-1 would make every purchase tautologically match its own run).
    Running per-prior-status totals, availableNow, complete-mode
    memory sink; integer counts/cents are micro-batch-invariant so
    the gate is the full hash-match against the plain SQL temporal
    join."""
    import os
    import shutil
    import tempfile
    import uuid
    ev_path = f"{sf_dir}/events.parquet"
    src_dir = tempfile.mkdtemp(prefix="dsrs_scd2s_src_")
    ck = tempfile.mkdtemp(prefix="dsrs_scd2s_ck_")
    try:
        os.symlink(os.path.abspath(ev_path),
                   os.path.join(src_dir, "events.parquet"))
        schema = spark.read.parquet(ev_path).schema
        stream = (spark.readStream.schema(schema).parquet(src_dir)
                  .where(F.col("event_type") == "purchase")
                  .select("user_id",
                          F.round(F.col("value") * 100)
                          .cast("long").alias("cents"),
                          (F.unix_micros(F.col("ts").cast("timestamp"))
                           - 1).alias("t_us")))
        v = _scd2_versions(_t(spark, sf_dir, "events")).select(
            F.col("user_id").alias("v_user"), F.col("status"),
            "valid_from_us", "valid_to_us")
        cond = ((stream["user_id"] == v["v_user"])
                & (v["valid_from_us"] <= stream["t_us"])
                & (v["valid_to_us"].isNull()
                   | (stream["t_us"] < v["valid_to_us"])))
        enriched = stream.join(F.broadcast(v), cond, "left")
        out = (enriched.groupBy(F.col("status").alias("prior_status"))
               .agg(F.count("*").alias("n_purchases"),
                    F.sum("cents").alias("rev_cents")))
        name = "dsrs_scd2s_" + uuid.uuid4().hex[:8]
        q = (out.writeStream.format("memory").queryName(name)
             .outputMode("complete")
             .option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                "streaming_scd2_enrichment did not finish within 300s")
        return spark.table(name)
    finally:
        shutil.rmtree(src_dir, ignore_errors=True)
