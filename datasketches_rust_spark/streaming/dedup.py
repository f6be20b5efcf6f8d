"""Streaming dedup + sketch-state operators.

Five patterns, all watermark/replay-safe (4 and 5 are the custom
stateful operators — ``applyInPandasWithState`` with engine-managed
per-group sketch state: ``stateful_sketch_estimates`` for running
per-key estimates, ``windowed_sketch_estimates`` for event-time windows
finalized and evicted by the watermark):

1. ``exact_dedup_stream`` — built-in streaming dropDuplicatesWithinWatermark
   on a content fingerprint (md5). Pure JVM; the streaming analog of
   exact-hash dedup.

2. ``incremental_dedup_foreach_batch`` — LSH dedup against an append-only
   signature store: each micro-batch computes MinHash signatures + band
   keys, joins its band keys against the store to find candidate pairs
   vs *all history*, exact-verifies, emits verified pairs, then appends
   its own signatures to the store. This is the scalable streaming
   near-dup shape: state lives in a compacted parquet/Iceberg table keyed
   by band hash, not in executor memory.

3. ``sketch_stream`` — per-key mergeable sketch partials appended per
   micro-batch; ``read_merged_sketches`` folds them on demand. Correct
   because sketch merge is commutative+associative+idempotent-ish
   (register max / k-smallest union), the same property the reference's
   unions rely on (hll/union.rs, SURVEY.md §4).
"""

from __future__ import annotations

import os

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (BinaryType, BooleanType, DoubleType,
                               IntegerType, LongType, NumericType,
                               StringType, StructField, StructType,
                               TimestampType)

from datasketches_rust_spark.config import DedupConfig
from datasketches_rust_spark.functions.text import exact_jaccard_udf
from datasketches_rust_spark.hashing import DEFAULT_SEED
from datasketches_rust_spark.pipeline import minhash_signatures


def interval_join_streams(left: DataFrame, right: DataFrame,
                          keys: list[tuple[str, str]],
                          left_ts: str, right_ts: str,
                          max_delay: str = "1 hour",
                          watermark: str = "0 seconds") -> DataFrame:
    """Stream-stream INNER interval join: each left row matches right
    rows with the same key whose event time lies in
    ``[left_ts, left_ts + max_delay]`` (inclusive both ends).

    This is the attribution shape (click -> purchase within the hour)
    that batch as-of/range joins (operators/asof.py, range_join.py)
    express offline — here both sides ARRIVE as streams, so the engine
    must buffer rows waiting for their counterpart. The time-range
    predicate plus a watermark on BOTH sides is what makes that state
    bounded (the 100 TB requirement): Spark derives per-side state
    watermarks from the join condition — a buffered left row is
    droppable once the global watermark passes ``left_ts + max_delay``,
    a right row once it passes ``right_ts`` — so state holds only
    ~``max_delay`` worth of each stream per key instead of the full
    history. The join itself is one hash exchange per side on the key
    columns (same physical shape as the batch equi-join); matches emit
    in the micro-batch where the later side arrives (append mode — the
    only mode stream-stream joins support).

    ``keys`` is a list of (left_col, right_col) pairs — callers rename
    columns so the two sides are disjoint (both streams often derive
    from the same source, and disjoint names keep the self-join lineage
    unambiguous). Timestamps compare as event time; ``max_delay`` is any
    SQL interval string."""
    import functools
    import operator

    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    key_eq = [F.col(lc) == F.col(rc) for lc, rc in keys]
    cond = functools.reduce(operator.and_, key_eq)
    cond = (cond
            & (F.col(right_ts) >= F.col(left_ts))
            & (F.col(right_ts)
               <= F.col(left_ts) + F.expr(f"interval {max_delay}")))
    return lw.join(rw, cond, "inner")


def exact_dedup_stream(stream_df: DataFrame, id_col: str, text_col: str,
                       ts_col: str, watermark: str = "10 minutes"
                       ) -> DataFrame:
    """Streaming exact dedup: first row per content fingerprint survives."""
    fp = F.md5(F.col(text_col))
    return (stream_df
            .withColumn("__fp", fp)
            .withWatermark(ts_col, watermark)
            .dropDuplicatesWithinWatermark(["__fp"])
            .drop("__fp"))


def incremental_dedup_foreach_batch(cfg: DedupConfig, id_col: str,
                                    text_col: str, store_dir: str,
                                    pairs_dir: str):
    """foreachBatch body for streaming near-dup detection.

    Returns f(batch_df, batch_id). Signature store layout:
    (id, text, band_idx, band_key) parquet appended per batch —
    partition-pruned on read by band join keys via AQE.
    """
    sig_path = os.path.join(store_dir, "signatures")
    jac = exact_jaccard_udf(cfg)

    def process(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        texts = batch.select(F.col(id_col),
                             F.lower(F.col(text_col)).alias("__t"))
        sigs = (minhash_signatures(batch, cfg, id_col, text_col)
                .join(texts, id_col)
                .select(id_col, "__t",
                        F.posexplode("bands")
                        .alias("band_idx", "band_key")))
        sigs = sigs.localCheckpoint()

        try:
            store = spark.read.parquet(sig_path)
            have_store = True
        except Exception:
            have_store = False

        # candidates within the batch itself
        a, b = sigs.alias("a"), sigs.alias("b")
        cands = (a.join(b, ["band_idx", "band_key"])
                 .where(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
                 .select(F.col(f"a.{id_col}").alias("id_a"),
                         F.col(f"a.__t").alias("ta"),
                         F.col(f"b.{id_col}").alias("id_b"),
                         F.col(f"b.__t").alias("tb")))
        if have_store:
            s = store.alias("s")
            hist = (a.join(s, ["band_idx", "band_key"])
                    .where(F.col(f"a.{id_col}") != F.col(f"s.{id_col}"))
                    .select(F.least(F.col(f"a.{id_col}"),
                                    F.col(f"s.{id_col}")).alias("id_a"),
                            F.col("a.__t").alias("ta"),
                            F.greatest(F.col(f"a.{id_col}"),
                                       F.col(f"s.{id_col}")).alias("id_b"),
                            F.col("s.__t").alias("tb")))
            cands = cands.unionByName(hist)

        verified = (cands.distinct()
                    .withColumn("jaccard", jac("ta", "tb"))
                    .where(F.col("jaccard") >= cfg.jaccard_threshold)
                    .select("id_a", "id_b", "jaccard")
                    .withColumn("batch_id", F.lit(batch_id)))
        verified.write.mode("append").parquet(pairs_dir)
        sigs.write.mode("append").parquet(sig_path)

    return process


def sketch_stream(stream_df: DataFrame, key_cols: list[str], value_col: str,
                  kind: str, state_dir: str, **sketch_kw):
    """Start a streaming query that appends per-key sketch partials per
    micro-batch. Returns the StreamingQuery (caller manages trigger)."""
    from datasketches_rust_spark import agg

    def process(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        partials = agg.sketch_agg(batch, key_cols, value_col, kind,
                                  **sketch_kw)
        (partials.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(os.path.join(state_dir, "partials")))

    return (stream_df.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", os.path.join(state_dir, "_ckpt"))
            .trigger(availableNow=True))


def read_merged_sketches(spark, state_dir: str, key_cols: list[str],
                         kind: str, seed: int = DEFAULT_SEED) -> DataFrame:
    """Fold all appended partials down to one sketch per key."""
    from datasketches_rust_spark import agg
    partials = spark.read.parquet(os.path.join(state_dir, "partials")) \
        .drop("batch_id")
    return agg.merge_sketch_col(partials, key_cols, kind, seed=seed)


_SKETCH_STATE = StructType([StructField("sketch", BinaryType()),
                            StructField("rows_seen", LongType())])

_NULL_FLAG = "__null"


def _null_free(df: DataFrame, value_col: str) -> DataFrame:
    """``df`` with a numeric ``value_col``'s nulls replaced by 0 and
    recorded in a boolean ``__null`` column, for the trip through pandas:
    pandas holds a bigint column that has a null as float64 (values
    above 2^53 round) and a double column's NaN the same as its null.
    ``_sketch_state_step`` puts the nulls back from the flag."""
    v = F.col(value_col)
    t = df.schema[value_col].dataType
    filled = F.coalesce(v, F.lit(0).cast(t)) \
        if isinstance(t, NumericType) else v
    return (df.withColumn(_NULL_FLAG, v.isNull())
            .withColumn(value_col, filled))


def _sketch_state_step(kd, state, frames, value_col: str,
                       value_type: pa.DataType):
    """The one load-or-build / update / store step of the sketch state
    operators. Loads the group's sketch and row count from ``state`` (or
    builds an empty sketch), updates it with every frame's ``value_col``
    and stores it back. The frames come from ``_null_free``: each
    frame's null-free column is turned back into the field's Arrow type
    with the ``__null`` flag as its mask, so the values (NaN and longs
    above 2^53 included) enter the sketch exactly as in
    ``agg.sketch_agg``. A timed-out state is loaded and removed. Returns
    (sketch, rows seen)."""
    if state.exists:
        blob, rows_seen = state.get
        sk = kd.deserialize(bytes(blob))
    else:
        sk, rows_seen = kd.build(), 0
    if state.hasTimedOut:
        state.remove()
        return sk, rows_seen
    for pdf in frames:
        kd.update_arrow(sk, pa.array(
            pdf[value_col].to_numpy(), type=value_type, from_pandas=False,
            mask=pdf[_NULL_FLAG].to_numpy(bool)))
        rows_seen += len(pdf)
    state.update((bytes(sk.serialize()), rows_seen))
    return sk, rows_seen


def _epoch_ms(ts: pd.Timestamp, tz: str) -> int:
    """Epoch milliseconds of ``ts``. Window bounds and event times reach
    the operators as tz-NAIVE pandas Timestamps rendered in the Spark
    session time zone ``tz``, but Timestamp.timestamp() reads naive
    values as UTC: under a non-UTC session the timeout would shift by
    the offset and finalize windows hours early or late."""
    if ts.tzinfo is None:
        ts = ts.tz_localize(tz)
    return int(ts.timestamp() * 1000)


def stateful_sketch_estimates(stream_df: DataFrame, key_cols: list[str],
                              value_col: str, kind: str = "hll",
                              emit_sketch: bool = False,
                              **sketch_kw) -> DataFrame:
    """Running per-key distinct-count estimates as a CUSTOM STATEFUL
    streaming operator (``applyInPandasWithState``): the group state is
    ONE serialized sketch per key (the same versioned binary the batch
    UDAF layer shuffles, agg.sketch_kind), updated in place every
    micro-batch; each update emits (key..., estimate, rows_seen
    [, sketch]).

    This is the 4th streaming pattern, complementing ``sketch_stream``:
    that one appends per-batch partials to a table and merges on read
    (no engine-managed state, best at huge key cardinality);
    this one keeps live engine-managed state keyed by group and emits a
    running estimate immediately — the shape for dashboards/monitors
    over bounded key sets. State size = one sketch per key (e.g. HLL
    lg_k=12 -> ~4 KB), checkpointed by Structured Streaming and restored
    on restart, so estimates survive failures without replay.

    ``kind``: theta | hll | cpc (the estimate-capable kinds).
    """
    from datasketches_rust_spark import agg

    if kind not in ("theta", "hll", "cpc"):
        raise ValueError(f"kind {kind!r} has no running estimate")
    kd = agg.sketch_kind(kind, **sketch_kw)
    value_type = to_arrow_type(stream_df.schema[value_col].dataType)
    out_fields = [stream_df.schema[k] for k in key_cols] + [
        StructField("estimate", DoubleType()),
        StructField("rows_seen", LongType())]
    if emit_sketch:
        out_fields.append(StructField("sketch", BinaryType()))

    def fn(key, pdfs, state):
        sk, rows_seen = _sketch_state_step(kd, state, pdfs, value_col,
                                           value_type)
        row = dict(zip(key_cols, key), estimate=float(sk.estimate()),
                   rows_seen=rows_seen)
        if emit_sketch:
            row["sketch"] = state.get[0]
        yield pd.DataFrame([row])

    return (_null_free(stream_df, value_col).groupBy(*key_cols)
            .applyInPandasWithState(fn, StructType(out_fields),
                                    _SKETCH_STATE, "Update",
                                    GroupStateTimeout.NoTimeout))


_DUR_US = {"microsecond": 1, "millisecond": 1000, "second": 10**6,
           "minute": 60 * 10**6, "hour": 3600 * 10**6,
           "day": 86400 * 10**6}


def streaming_sessions(stream_df: DataFrame, key_cols: list[str],
                       ts_col: str, gap: str = "30 minutes",
                       watermark: str = "10 minutes") -> DataFrame:
    """Gap-based stateful SESSIONIZATION — the streaming counterpart of
    the batch ``event_sessions`` query: per key, events within ``gap``
    of the last seen event extend the open session; a session closes
    when the event-time watermark passes last_event + gap
    (``EventTimeTimeout``), so closure doesn't wait for the key's next
    event. Emits one row per FINALIZED session only:
    key..., session_start, session_end, n_events.

    Built-in windowed aggs can't express data-driven (gap) windows —
    this is exactly the custom-stateful-operator case. State per key is
    three longs (open-session start/last/count) — bounded by #active
    keys, evicted at timeout. Semantics under disorder: events are
    processed in event-time order WITHIN a micro-batch; a late event
    arriving while its session is still open joins it (extending start
    backward if needed, never regressing last); events later than the
    watermark allowance are dropped by the engine upstream — the
    inherent streaming-sessionization contract."""
    gap_us = _duration_us(gap)
    key_fields = [stream_df.schema[k] for k in key_cols]
    out_schema = StructType(
        key_fields
        + [StructField("session_start", TimestampType()),
           StructField("session_end", TimestampType()),
           StructField("n_events", LongType())])
    state_schema = StructType([StructField("start_us", LongType()),
                               StructField("last_us", LongType()),
                               StructField("n", LongType())])

    session_tz = stream_df.sparkSession.conf.get(
        "spark.sql.session.timeZone")

    def _row(key, start_us, last_us, n) -> dict:
        row = dict(zip(key_cols, key))
        row.update(session_start=pd.Timestamp(start_us * 1000),
                   session_end=pd.Timestamp(last_us * 1000),
                   n_events=n)
        return row

    def fn(key, pdfs, state):
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame([_row(key, start_us, last_us, n)])
            return
        ts_us = []
        for pdf in pdfs:
            ts_us.append(pdf[ts_col].astype("int64") // 1000)
        ts_us = pd.concat(ts_us).sort_values().to_numpy()
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = int(ts_us[0])
            n = 1
            ts_us = ts_us[1:]
        closed = []
        for t in ts_us:
            t = int(t)
            if t > last_us + gap_us:
                closed.append(_row(key, start_us, last_us, n))
                start_us = last_us = t
                n = 1
            else:
                n += 1
                last_us = max(last_us, t)
                start_us = min(start_us, t)
        state.update((start_us, last_us, n))
        state.setTimeoutTimestamp(
            _epoch_ms(pd.Timestamp((last_us + gap_us) * 1000), session_tz))
        if closed:
            yield pd.DataFrame(closed)

    wdf = stream_df.withWatermark(ts_col, watermark)
    return (wdf.groupBy(*[F.col(k) for k in key_cols])
            .applyInPandasWithState(fn, out_schema, state_schema,
                                    "Update",
                                    GroupStateTimeout.EventTimeTimeout))


def _duration_us(s: str) -> int:
    """'10 seconds' / '1 hour' -> microseconds (Spark interval words)."""
    n, unit = s.strip().split()
    unit = unit.rstrip("s")
    if unit not in _DUR_US:
        raise ValueError(f"unsupported duration unit {unit!r} in {s!r}")
    return int(n) * _DUR_US[unit]


def windowed_sketch_estimates(stream_df: DataFrame, key_cols: list[str],
                              ts_col: str, value_col: str,
                              window_duration: str = "1 hour",
                              watermark: str = "10 minutes",
                              kind: str = "hll",
                              slide: str | None = None,
                              **sketch_kw) -> DataFrame:
    """Event-time WINDOWED sketch estimates with watermark-driven
    finalization — tumbling by default, sliding when ``slide`` is given
    (each row then feeds its ceil(W/S) covering windows): one sketch of
    engine-managed state per (window, key),
    updated every micro-batch; while a window is open each update emits a
    running row (``final=false``), and when the event-time watermark
    passes the window end the state times out, the closing row
    (``final=true``) is emitted, and the state is evicted.

    This is the 5th streaming pattern: the late-data story. Rows later
    than ``watermark`` past the newest event are dropped by the engine
    before grouping; rows late-but-inside-the-watermark still land in
    their (already open) window because the state keyed by window start
    is only removed at timeout. State size is bounded by
    (#keys x #open windows) sketches — eviction, not accumulation.

    Uses ``applyInPandasWithState`` with ``EventTimeTimeout`` rather than
    the built-in windowed agg because sketch partials are custom state
    (the built-in agg can't carry a mergeable binary accumulator).
    Output: window_start, window_end, key..., estimate, rows_seen, final.
    """
    from datasketches_rust_spark import agg

    if kind not in ("theta", "hll", "cpc"):
        raise ValueError(f"kind {kind!r} has no running estimate")
    return _windowed_sketch_apply(
        stream_df, key_cols, ts_col, value_col,
        agg.sketch_kind(kind, **sketch_kw),
        [StructField("estimate", DoubleType()),
         StructField("rows_seen", LongType())],
        lambda sk, n: [{"estimate": float(sk.estimate()), "rows_seen": n}],
        window_duration, watermark, slide)


def windowed_quantiles(stream_df: DataFrame, key_cols: list[str],
                       ts_col: str, value_col: str,
                       window_duration: str = "1 hour",
                       watermark: str = "10 minutes",
                       quantiles: tuple = (0.5, 0.95, 0.99),
                       k: int = 200,
                       slide: str | None = None) -> DataFrame:
    """Event-time windowed QUANTILES — the observability metric shape
    (p50/p95/p99 per window): one t-digest of engine-managed state per
    (window, key), updated each micro-batch with running rows
    (``final=false``), watermark-finalized at EventTimeTimeout. The
    built-in windowed agg offers only percentile_approx recomputed per
    trigger; the t-digest state is MERGEABLE, bounded (~k centroids
    regardless of window volume), and the same blob the batch engine
    checkpoints. Output: window_start, window_end, key..., n, one
    column per requested quantile (p50, p95, ...), final."""
    from datasketches_rust_spark import agg

    qnames = [f"p{q * 100:g}".replace(".", "_") for q in quantiles]
    return _windowed_sketch_apply(
        stream_df, key_cols, ts_col, value_col,
        agg.sketch_kind("tdigest", k=k),
        [StructField("n", LongType())]
        + [StructField(qn, DoubleType()) for qn in qnames],
        lambda sk, n: [{"n": n, **{qn: float(sk.quantile(q))
                                   for q, qn in zip(quantiles, qnames)}}],
        window_duration, watermark, slide)


def windowed_topk(stream_df: DataFrame, key_cols: list[str],
                  ts_col: str, item_col: str,
                  window_duration: str = "1 hour",
                  watermark: str = "10 minutes", k: int = 5,
                  max_map_size: int = 256,
                  slide: str | None = None) -> DataFrame:
    """Event-time windowed TOP-K items — the trending-items analytics
    shape: one Misra-Gries frequent-items sketch of engine-managed
    state per (window, key); every micro-batch emits the running top-k
    (``final=false``, rank 1..k), and when the watermark passes the
    window end the closing top-k is emitted (``final=true``) and the
    state evicted. EXACT (not approximate) whenever a window holds
    fewer than 0.75*max_map_size distinct items — the sketch only
    purges above that load. State per open window is one bounded
    sketch blob regardless of stream volume. Ties on estimate order by
    item string, so output ranks are deterministic.
    Output: window_start, window_end, key..., rank, item, est, final.
    """
    from datasketches_rust_spark import agg

    return _windowed_sketch_apply(
        stream_df, key_cols, ts_col, item_col,
        agg.sketch_kind("freqitems", max_map_size=max_map_size),
        [StructField("rank", IntegerType()),
         StructField("item", StringType()),
         StructField("est", LongType())],
        lambda sk, _n: [{"rank": i + 1, "item": str(it), "est": int(est)}
                        for i, (it, est, _lb, _ub)
                        in enumerate(sk.frequent_items()[:k])],
        window_duration, watermark, slide)


def _windowed_sketch_apply(stream_df, key_cols, ts_col, value_col, kd,
                           fields, rows_of, window_duration, watermark,
                           slide):
    """The windowed sketch operators' shared body: one sketch of state
    per (window, key), updated with ``value_col`` every micro-batch. Each
    update emits ``rows_of(sketch, rows_seen)`` (dicts over ``fields``)
    with ``final=false``; when the watermark passes the window end the
    state times out, the closing rows are emitted with ``final=true``
    and the state is evicted.

    applyInPandasWithState groups on resolved columns, not the window()
    grouping expression — materialize the window struct as a projection
    column first. Tumbling (slide=None) is the 1-row-1-window case and
    projects directly; sliding fans each row into its ceil(W/S) covering
    windows with an integer-exact epoch-aligned explode (each row then
    updates that many window states — the inherent sliding-window cost).
    Either way, project the window BEFORE tagging the watermark: a
    column derived from an already-watermarked timestamp inherits the
    event-time tag and Spark rejects streams with two event-time
    columns."""
    out_schema = StructType(
        [StructField("window_start", TimestampType()),
         StructField("window_end", TimestampType())]
        + [stream_df.schema[c] for c in key_cols] + fields
        + [StructField("final", BooleanType())])
    value_type = to_arrow_type(stream_df.schema[value_col].dataType)
    session_tz = stream_df.sparkSession.conf.get(
        "spark.sql.session.timeZone")

    def fn(key, pdfs, state):
        # the struct group key arrives as a mapping with the window fields
        win = key[0]
        final = state.hasTimedOut
        sk, rows_seen = _sketch_state_step(kd, state, pdfs, value_col,
                                           value_type)
        if not final:
            # the window closes when the event-time watermark passes its end
            state.setTimeoutTimestamp(_epoch_ms(win["end"], session_tz))
        base = dict(zip(key_cols, key[1:]), window_start=win["start"],
                    window_end=win["end"], final=final)
        rows = [{**base, **r} for r in rows_of(sk, rows_seen)]
        if rows:
            yield pd.DataFrame(rows)

    if slide is None:
        windowed = stream_df.withColumn(
            "__win", F.window(F.col(ts_col), window_duration))
    else:
        w_us, s_us = _duration_us(window_duration), _duration_us(slide)
        ts_us = F.unix_micros(F.col(ts_col))
        # epoch-aligned starts with start <= ts < start + W, all-integer
        # arithmetic (double division drifts at 2^53 microseconds):
        # first = smallest multiple of S strictly greater than ts - W
        first = (ts_us - F.lit(w_us)
                 - F.pmod(ts_us - F.lit(w_us), F.lit(s_us)) + F.lit(s_us))
        last = ts_us - F.pmod(ts_us, F.lit(s_us))
        windowed = (stream_df
                    .withColumn("__s", F.explode(
                        F.sequence(first, last, F.lit(s_us))))
                    .withColumn("__win", F.struct(
                        F.timestamp_micros(F.col("__s")).alias("start"),
                        F.timestamp_micros(F.col("__s") + F.lit(w_us))
                        .alias("end")))
                    .drop("__s"))
    wdf = _null_free(windowed, value_col).withWatermark(ts_col, watermark)
    return (wdf.groupBy("__win", *[F.col(k) for k in key_cols])
            .applyInPandasWithState(fn, out_schema, _SKETCH_STATE,
                                    "Update",
                                    GroupStateTimeout.EventTimeTimeout))
