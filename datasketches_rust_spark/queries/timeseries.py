"""Time-series query classes over the TPC-H and events tables: daily and
weekly series, windows and folds, sessions, cohorts, change points and
forecasts. None calls sketch, LSH, dedup or text-pipeline code."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window, functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from datasketches_rust_spark.queries._common import (_SCD2_VERSIONS_CTE,
                                                     _local_frame,
                                                     _scd2_versions, _t)
from datasketches_rust_spark.queries._registry import query


@query(oracle_replace="CAST(day AS VARCHAR) AS day", oracle="""
        WITH daily AS (
          SELECT o_orderdate::DATE AS day,
                 sum(o_totalprice) AS revenue
          FROM orders GROUP BY 1
        )
        SELECT day, revenue,
               avg(revenue) OVER (ORDER BY day
                                  ROWS BETWEEN 6 PRECEDING
                                       AND CURRENT ROW) AS ma7,
               cast(sum(cast(round(revenue * 100) AS BIGINT))
                    OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS cum_rev_cents
        FROM daily""")
def q_daily_revenue_moving_avg(spark, sf_dir):
    """Bounded window FRAME operator class: per-day order revenue with a
    7-day trailing moving average and a running cumulative total —
    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW / UNBOUNDED PRECEDING over
    the day-aggregated series. Scale shape: the frame runs over the
    DAY-level aggregate (one partial-agg exchange collapses the orders
    table to ~#days rows), never over raw orders; a single
    global-ordered window on thousands of day rows is trivially one
    task. Day aligned to DATE on both engines. The running total is
    carried in integer CENTS: a double cumsum over ~2000 days diverges
    between engines by ~5e-6 (DuckDB evaluates window sums through a
    segment tree, a different float addition order than Spark's
    sequential running frame — measured on this exact query), while the
    per-day sums and the 7-element ma7 frame match bit-for-bit."""
    orders = _t(spark, sf_dir, "orders")
    daily = (orders
             .groupBy(F.col("o_orderdate").cast("date").alias("day"))
             .agg(F.sum("o_totalprice").alias("revenue")))
    w = Window.orderBy("day")
    return daily.select(
        "day", "revenue",
        F.avg("revenue").over(w.rowsBetween(-6, 0)).alias("ma7"),
        F.sum(F.round(F.col("revenue") * 100).cast("long")).over(
            w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum_rev_cents"))


@query(oracle_replace="CAST(day AS VARCHAR) AS day", oracle="""
        WITH daily AS (
          SELECT o_orderpriority AS priority, o_orderdate::DATE AS day,
                 cast(sum(cast(round(o_totalprice * 100) AS BIGINT))
                      AS BIGINT) AS rev_cents
          FROM orders WHERE o_orderstatus = 'P' GROUP BY 1, 2),
        spine AS (
          SELECT p.priority, cast(u.d AS DATE) AS day
          FROM (SELECT DISTINCT o_orderpriority AS priority
                FROM orders WHERE o_orderstatus = 'P') p,
               unnest(range(DATE '1995-01-01', DATE '2001-08-02',
                            INTERVAL 1 DAY)) AS u(d))
        SELECT s.priority, s.day,
               (d.rev_cents IS NOT NULL) AS observed,
               last_value(d.rev_cents IGNORE NULLS) OVER (
                 PARTITION BY s.priority ORDER BY s.day
                 ROWS UNBOUNDED PRECEDING) AS rev_cents_ffill
        FROM spine s
        LEFT JOIN daily d ON s.priority = d.priority AND s.day = d.day""")
def q_daily_gapfill_ffill(spark, sf_dir):
    """Time-series RESAMPLE + forward-fill operator class (gap-fill): the
    daily revenue series of in-progress ('P') orders per priority is
    re-gridded onto a dense calendar spine and missing days carry the
    last observed value forward — the standard shape for turning sparse
    event data into an aligned daily panel (feature tables, monitoring
    dashboards). Scale shape: the corpus-sized work is exactly one
    (priority, day) partial aggregate; the spine is dims x days (a few
    thousand rows per series key — bounded by TIME, not by data volume)
    built from a literal F.sequence, so the left join's right side is
    the tiny one and the ffill window runs per-priority over ~2.4k day
    rows. last(ignorenulls) over ROWS UNBOUNDED PRECEDING is the
    forward-fill primitive; days before a series' first observation
    stay NULL on both engines (29 rows at sf0.01 — the non-vacuous
    leading-edge case). Revenue carried in integer cents so the copied
    fill values hash exactly."""
    orders = (_t(spark, sf_dir, "orders")
              .where(F.col("o_orderstatus") == "P"))
    daily = (orders.groupBy(
        F.col("o_orderpriority").alias("priority"),
        F.col("o_orderdate").cast("date").alias("day"))
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
             .alias("rev_cents")))
    days = (spark.range(1).select(F.explode(F.sequence(
        F.lit("1995-01-01").cast("date"), F.lit("2001-08-01").cast("date"),
        F.expr("interval 1 day"))).alias("day")))
    priorities = orders.select(
        F.col("o_orderpriority").alias("priority")).distinct()
    spine = priorities.crossJoin(F.broadcast(days))
    w = (Window.partitionBy("priority").orderBy("day")
         .rowsBetween(Window.unboundedPreceding, 0))
    return (spine.join(daily, ["priority", "day"], "left")
            .select("priority", "day",
                    F.col("rev_cents").isNotNull().alias("observed"),
                    F.last("rev_cents", ignorenulls=True).over(w)
                    .alias("rev_cents_ffill")))


@query(oracle_replace="CAST(day AS VARCHAR) AS day", oracle="""
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               count(*) AS n_events,
               count(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1""")
def q_events_per_day(spark, sf_dir):
    """Batch event-time bucketing: daily event volume + exact distinct
    users — date_trunc keeps the whole query in whole-stage codegen."""
    ev = _t(spark, sf_dir, "events")
    return (ev.groupBy(F.date_trunc("day", F.col("ts"))
                       .cast("date").alias("day"))
            .agg(F.count("*").alias("n_events"),
                 F.count_distinct("user_id").alias("n_users")))


@query(oracle_replace="CAST(day AS VARCHAR) AS day, "
                      "CAST(wsum_cents_us AS VARCHAR) AS wsum_cents_us, "
                      "CAST(wtot_us AS BIGINT) AS wtot_us",
       oracle="""
        WITH e AS (
          SELECT event_type, event_id, epoch_us(ts) AS ts_us,
                 CAST(round(value * 100) AS BIGINT) AS cents,
                 epoch_us(ts) - epoch_us(ts) % 86400000000 AS day_us
          FROM events),
        l AS (
          SELECT event_type, day_us, cents,
                 coalesce(lead(ts_us) OVER (PARTITION BY event_type,
                                            day_us
                                            ORDER BY ts_us, event_id),
                          day_us + 86400000000) - ts_us AS dt
          FROM e)
        SELECT event_type,
               DATE '1970-01-01' + CAST(day_us // 86400000000 AS INTEGER)
               AS day,
               count(*) AS n_obs,
               sum(cents * dt) AS wsum_cents_us,
               sum(dt) AS wtot_us
        FROM l GROUP BY event_type, day_us""")
def q_event_twap_daily(spark, sf_dir):
    """TIME-WEIGHTED AVERAGE (TWAP — the financial/sensor downsample a
    plain mean gets wrong when observations arrive unevenly): per
    (event_type, day), each value holds until the next observation
    (step interpolation), the day's last observation holds to midnight,
    and the average weights by holding time. Emitted as EXACT INTEGERS
    — (n_obs, wsum = sum(cents x holding-micros) in decimal(38,0) [the
    corr_matrix headroom discipline: a cents x day-micros term is
    ~2^60, so a 64-bit SUM would wrap within thousands of rows],
    wtot = sum(micros)) — twap = wsum/wtot is one client-side division
    away; emitting the float would be the one engine-divergent value in
    the row. Equal-timestamp ties are ordered by event_id on BOTH
    engines: a tie's first observation gets zero holding time, so tie
    ORDER changes which value absorbs the gap — unordered ties are a
    silent cross-engine (and cross-run!) nondeterminism.

    Scale: the lead() window and the day aggregate share one
    (type, day) exchange (same keys — the event_sessions discipline);
    window partitions are bounded by per-type daily volume."""
    us_day = 86400 * 10**6
    ev = _t(spark, sf_dir, "events").select(
        "event_type", "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    ev = ev.withColumn(
        "day_us", F.col("ts_us") - F.pmod("ts_us", F.lit(us_day)))
    w = (Window.partitionBy("event_type", "day_us")
         .orderBy("ts_us", "event_id"))
    dt = (F.coalesce(F.lead("ts_us").over(w),
                     F.col("day_us") + F.lit(us_day))
          - F.col("ts_us"))
    return (ev.withColumn("dt", dt)
            .groupBy("event_type", "day_us")
            .agg(F.count("*").alias("n_obs"),
                 F.sum((F.col("cents") * F.col("dt"))
                       .cast("decimal(38,0)")).alias("wsum_cents_us"),
                 F.sum("dt").alias("wtot_us"))
            .select("event_type",
                    F.date_from_unix_date(
                        F.expr("day_us div 86400000000").cast("int"))
                    .alias("day"),
                    "n_obs",
                    # decimal(38,0) can exceed int64 (a cents x
                    # day-micros term is ~2^60), so the EXACT value is
                    # emitted as its decimal-digit string — the one
                    # lossless form both engines render identically in
                    # pandas (Spark Decimal objects vs DuckDB
                    # HUGEINT->float64 would diverge in the driver hash)
                    F.col("wsum_cents_us").cast("string")
                    .alias("wsum_cents_us"),
                    "wtot_us"))


@query(window=50,
       oracle_replace="CAST(start_date AS VARCHAR) AS start_date, "
                      "CAST(end_date AS VARCHAR) AS end_date",
       oracle="""
        WITH ud AS (
          SELECT DISTINCT user_id,
                 date_diff('day', DATE '1970-01-01', ts::DATE) AS dayn
          FROM events),
        i AS (
          SELECT user_id, dayn,
                 dayn - row_number() OVER (PARTITION BY user_id
                                           ORDER BY dayn) AS grp
          FROM ud)
        SELECT user_id,
               DATE '1970-01-01' + CAST(min(dayn) AS INTEGER)
               AS start_date,
               DATE '1970-01-01' + CAST(max(dayn) AS INTEGER)
               AS end_date,
               count(*) AS n_days
        FROM i GROUP BY user_id, grp""")
def q_user_activity_islands(spark, sf_dir):
    """GAPS-AND-ISLANDS (the classic streak/outage window idiom —
    contiguous runs of active days per user, the engagement-streak /
    sensor-uptime query): the tabibitosan method, dayn - row_number()
    is constant within a consecutive run, so runs fall out of a plain
    groupBy with no self-join and no lag-cascade. Everything runs over
    the (user, day) DISTINCT aggregate (bounded by users x days — the
    raw event table collapses in its first map-side-combined exchange);
    the run groupBy then carries only those rows. Day arithmetic is
    integer days-since-epoch on both engines, so run boundaries are
    exact."""
    ev = _t(spark, sf_dir, "events")
    ud = (ev.select("user_id",
                    F.unix_date(F.col("ts").cast("date")).alias("dayn"))
          .distinct())
    w = Window.partitionBy("user_id").orderBy("dayn")
    isl = ud.withColumn("grp", F.col("dayn") - F.row_number().over(w))
    return (isl.groupBy("user_id", "grp")
            .agg(F.min("dayn").alias("s"), F.max("dayn").alias("e"),
                 F.count("*").alias("n_days"))
            .select("user_id",
                    F.date_from_unix_date(F.col("s").cast("int"))
                    .alias("start_date"),
                    F.date_from_unix_date(F.col("e").cast("int"))
                    .alias("end_date"),
                    "n_days"))


@query(oracle_replace="CAST(click_day AS VARCHAR) AS click_day, "
                      "CAST(credit_millicents AS BIGINT) AS credit_millicents",
       oracle="""
        WITH p AS (
          SELECT event_id AS pid, user_id, epoch_us(ts) AS pts_us,
                 CAST(round(value * 100) AS BIGINT) AS cents
          FROM events WHERE event_type = 'purchase'),
        c AS (
          SELECT event_id AS cid, user_id, epoch_us(ts) AS cts_us, ts
          FROM events WHERE event_type = 'click'),
        t AS (
          SELECT pid, cents, cid, cts_us, ts
          FROM p JOIN c USING (user_id)
          WHERE cts_us <= pts_us
            AND cts_us > pts_us - 604800000000),
        r AS (
          SELECT ts, cents,
                 count(*) OVER (PARTITION BY pid) AS n,
                 row_number() OVER (PARTITION BY pid
                                    ORDER BY cts_us DESC, cid DESC)
                 AS rn
          FROM t),
        cr AS (
          SELECT ts::DATE AS click_day,
                 (cents * 1000) // n
                 + CASE WHEN rn = 1 THEN (cents * 1000) % n
                        ELSE 0 END AS credit
          FROM r)
        SELECT click_day, count(*) AS n_touches,
               sum(credit) AS credit_millicents
        FROM cr GROUP BY click_day""")
def q_linear_attribution_daily(spark, sf_dir):
    """MULTI-TOUCH ATTRIBUTION (the marketing-analytics allocator,
    completing the family next to asof_last_purchase's last-touch):
    each purchase's value splits EQUALLY across the user's clicks in
    the preceding 7 days, and credit aggregates per click day. The
    split is exact integer math — credit = (cents*1000) div n
    millicents per touch, remainder to the LAST touch (latest ts,
    event_id tie-break) — so total credit conserves value exactly and
    the gate is float-free (an even float split neither conserves nor
    hashes).

    Scale shape: the touch join is user-keyed equi with the 7-day
    window as a residual (bounded by per-user activity in the window;
    a hot user is AQE skew-split territory). Per-purchase count and
    last-touch flag come from ONE purchase-keyed window (count +
    row_number share the partition/order spec: one exchange, one
    sort, partitions bounded by touches-per-purchase), and the final
    day rollup is map-side combined."""
    ev = _t(spark, sf_dir, "events")
    p = (ev.where(F.col("event_type") == "purchase")
         .select(F.col("event_id").alias("pid"),
                 F.col("user_id"),
                 F.unix_micros(F.col("ts").cast("timestamp"))
                 .alias("pts_us"),
                 F.round(F.col("value") * 100).cast("long")
                 .alias("cents")))
    c = (ev.where(F.col("event_type") == "click")
         .select(F.col("event_id").alias("cid"), F.col("user_id"),
                 F.unix_micros(F.col("ts").cast("timestamp"))
                 .alias("cts_us"),
                 F.col("ts").alias("cts")))
    win_us = 7 * 86400 * 10**6
    t = p.join(c, "user_id").where(
        (F.col("cts_us") <= F.col("pts_us"))
        & (F.col("cts_us") > F.col("pts_us") - F.lit(win_us)))
    w = Window.partitionBy("pid")
    wo = w.orderBy(F.desc("cts_us"), F.desc("cid"))
    t = (t.withColumn("n", F.count("*").over(w))
         .withColumn("rn", F.row_number().over(wo)))
    credit = (F.expr("(cents * 1000) div n")
              + F.when(F.col("rn") == 1, F.expr("(cents * 1000) % n"))
              .otherwise(F.lit(0)))
    return (t.select(F.col("cts").cast("date").alias("click_day"),
                     credit.cast("long").alias("credit_millicents"))
            .groupBy("click_day")
            .agg(F.count("*").alias("n_touches"),
                 F.sum("credit_millicents").alias("credit_millicents")))


@query(oracle_replace="CAST(cohort_week AS VARCHAR) AS cohort_week", oracle="""
        WITH e AS (
          SELECT user_id,
                 date_diff('day', DATE '1970-01-05', ts::DATE) // 7 AS w
          FROM events WHERE event_type = 'purchase'),
        cohort AS (SELECT user_id, min(w) AS w0 FROM e GROUP BY user_id),
        act AS (SELECT DISTINCT user_id, w FROM e)
        SELECT DATE '1970-01-05' + CAST(w0 * 7 AS INTEGER) AS cohort_week,
               w - w0 AS weeks_since,
               count(DISTINCT a.user_id) AS n_users
        FROM act a JOIN cohort c USING (user_id)
        GROUP BY w0, w""")
def q_cohort_retention_weekly(spark, sf_dir):
    """COHORT RETENTION (the product-analytics triangle): users grouped
    by first-activity week, tracked across subsequent weeks —
    n_users(cohort_week, weeks_since). Weekly grain because the events
    fixture spans ~one month (a monthly version is a vacuous 1-row
    gate); the shape is grain-independent. The scale discipline is that
    the raw event table collapses BEFORE anything joins: the cohort
    table is a min-aggregate per user and the activity table a distinct
    per (user, week) — both map-side combined — and the join is
    aggregate-to-aggregate on user_id (never events x events; a fact
    self-join on Zipf-active users would be the skew hazard). Week
    arithmetic is pure integer (Monday-aligned epoch-day div 7), so
    weeks_since is exact on both engines; output is bounded by weeks^2,
    not users.

    At 100 TB: two user-keyed exchanges (cohort min + activity
    distinct), one user-keyed join AQE can co-locate, and a final
    few-hundred-row aggregate. No window, no Python."""
    ev = (_t(spark, sf_dir, "events")
          .where(F.col("event_type") == "purchase"))
    # Monday-aligned week number: days since 1970-01-05 (a Monday) div 7
    wnum = F.expr(
        "datediff(cast(ts as date), date'1970-01-05') div 7").alias("w")
    cohort = (ev.select("user_id", wnum)
              .groupBy("user_id").agg(F.min("w").alias("w0")))
    act = ev.select("user_id", wnum).distinct()
    return (act.join(cohort, "user_id")
            .groupBy("w0", "w")
            .agg(F.count_distinct("user_id").alias("n_users"))
            .select(
                F.date_add(F.lit("1970-01-05").cast("date"),
                           (F.col("w0") * 7).cast("int"))
                .alias("cohort_week"),
                (F.col("w") - F.col("w0")).alias("weeks_since"),
                "n_users"))


@query(oracle="""
        WITH w AS (
          SELECT o_custkey, o_orderkey,
                 o_orderdate AS ws, max(l_shipdate) AS we
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          GROUP BY o_custkey, o_orderkey, o_orderdate)
        SELECT a.o_custkey AS custkey,
               count(*) AS n_overlapping_pairs,
               max(date_diff('day',
                             greatest(a.ws, b.ws)::DATE,
                             least(a.we, b.we)::DATE) + 1)
               AS max_overlap_days
        FROM w a JOIN w b
          ON a.o_custkey = b.o_custkey
         AND a.o_orderkey < b.o_orderkey
         AND a.ws <= b.we AND b.ws <= a.we
        GROUP BY a.o_custkey""")
def q_overlapping_order_windows(spark, sf_dir):
    """INTERVAL-OVERLAP SELF-JOIN (the second interval join next to
    range_join's point-in-interval): per customer, pairs of orders whose
    fulfillment windows [o_orderdate, last l_shipdate] overlap —
    "customers juggling concurrent in-flight orders". The overlap
    predicate s1 <= e2 AND s2 <= e1 has no equi key of its own, but the
    per-customer scoping DOES: the self-join is an ordinary hash
    equi-join on custkey with the overlap as a residual filter, bounded
    because orders-per-customer is bounded (the general unscoped case
    needs range_join-style time bucketing; a hot customer is AQE
    skew-split territory). Window end comes from one map-side-combined
    max per order co-keyed with the orders join; output is a
    per-customer pair count + max concurrent-pair span in days, so the
    result is customer-bounded, not pair-bounded."""
    li = (_t(spark, sf_dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(F.max("l_shipdate").alias("w_end")))
    o = (_t(spark, sf_dir, "orders")
         .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
         .select("o_custkey", "o_orderkey",
                 F.col("o_orderdate").alias("w_start"), "w_end"))
    a, b = o.alias("a"), o.alias("b")
    pairs = (a.join(b, (F.col("a.o_custkey") == F.col("b.o_custkey"))
                    & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
                    & (F.col("a.w_start") <= F.col("b.w_end"))
                    & (F.col("b.w_start") <= F.col("a.w_end"))))
    ov_days = (F.datediff(
        F.least(F.col("a.w_end"), F.col("b.w_end")),
        F.greatest(F.col("a.w_start"), F.col("b.w_start"))) + 1)
    return (pairs.groupBy(F.col("a.o_custkey").alias("custkey"))
            .agg(F.count("*").alias("n_overlapping_pairs"),
                 F.max(ov_days).alias("max_overlap_days")))


@query(window=43, oracle_replace="CAST(day AS VARCHAR) AS day", oracle="""
        WITH f AS (
          SELECT user_id, CAST(ts AS DATE) AS day, event_type, ts
          FROM events
          WHERE event_type IN ('view', 'click', 'purchase')),
        a AS (SELECT user_id, day, min(ts) AS ta FROM f
              WHERE event_type = 'view' GROUP BY 1, 2),
        b AS (SELECT f.user_id, f.day, min(ts) AS tb
              FROM f JOIN a USING (user_id, day)
              WHERE event_type = 'click' AND ts > ta GROUP BY 1, 2),
        c AS (SELECT f.user_id, f.day, min(ts) AS tc
              FROM f JOIN b USING (user_id, day)
              WHERE event_type = 'purchase' AND ts > tb GROUP BY 1, 2)
        SELECT a.day, count(*) AS n_viewed,
               CAST(sum(CASE WHEN b.tb IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_clicked,
               CAST(sum(CASE WHEN c.tc IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_purchased
        FROM a
        LEFT JOIN b ON a.user_id = b.user_id AND a.day = b.day
        LEFT JOIN c ON a.user_id = c.user_id AND a.day = c.day
        GROUP BY 1""")
def q_event_funnel_daily(spark, sf_dir):
    """Sequential-step FUNNEL analytics (view -> click -> purchase per
    user-day): the product-analytics query class where step N only
    counts if it happens strictly AFTER step N-1 — inexpressible as
    independent conditional aggregates. Implemented as ONE shuffle: the
    per-(user, day) event list is sorted (array_sort over (ts, type)
    structs) and folded with a JVM higher-order F.aggregate whose state
    is the (ta, tb, tc) stage-timestamp struct — first view sets ta,
    first click strictly after ta sets tb, first purchase strictly
    after tb sets tc. Equal-timestamp ties resolve identically to the
    oracle's strict-> min() formulation because the fold also requires
    ts strictly greater. The day-level rollup is a second, trivially
    small exchange over (user, day)-grain rows.

    Scale note: per-(user, day) lists are bounded by one user's daily
    activity — the natural funnel grain; the alternative 3-chained
    aggregate-join shape costs three exchanges of the filtered event
    stream and wins only if single (user, day) cells are pathological
    (bot traffic), which an upstream rate cap handles anyway."""
    ev = (_t(spark, sf_dir, "events")
          .where(F.col("event_type").isin("view", "click", "purchase"))
          .select("user_id", F.col("ts").cast("date").alias("day"),
                  "ts", "event_type"))
    grain = (ev.groupBy("user_id", "day")
             .agg(F.array_sort(F.collect_list(
                 F.struct("ts", "event_type"))).alias("evs")))
    init = F.struct(
        F.lit(None).cast("timestamp").alias("ta"),
        F.lit(None).cast("timestamp").alias("tb"),
        F.lit(None).cast("timestamp").alias("tc"))
    st = F.aggregate(
        "evs", init,
        lambda s, e: F.struct(
            F.when(s["ta"].isNull() & (e["event_type"] == "view"),
                   e["ts"]).otherwise(s["ta"]).alias("ta"),
            F.when(s["tb"].isNull() & s["ta"].isNotNull()
                   & (e["event_type"] == "click") & (e["ts"] > s["ta"]),
                   e["ts"]).otherwise(s["tb"]).alias("tb"),
            F.when(s["tc"].isNull() & s["tb"].isNotNull()
                   & (e["event_type"] == "purchase") & (e["ts"] > s["tb"]),
                   e["ts"]).otherwise(s["tc"]).alias("tc")))
    staged = grain.select("day", st.alias("st")).where(
        F.col("st.ta").isNotNull())
    return (staged.groupBy("day").agg(
        F.count("*").alias("n_viewed"),
        F.sum(F.col("st.tb").isNotNull().cast("int"))
         .cast("long").alias("n_clicked"),
        F.sum(F.col("st.tc").isNotNull().cast("int"))
         .cast("long").alias("n_purchased")))


@query(oracle="""
        WITH purchases AS (
          SELECT user_id, ts, max(value) AS pv
          FROM events WHERE event_type = 'purchase'
          GROUP BY user_id, ts),
        clicks AS (
          SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click')
        SELECT c.event_id, c.user_id, p.pv AS last_purchase_value
        FROM clicks c ASOF LEFT JOIN purchases p
          ON c.user_id = p.user_id AND c.ts >= p.ts""")
def q_asof_last_purchase(spark, sf_dir):
    """AS-OF join surfaced in the gate: for every click, the value of the
    user's most recent prior-or-simultaneous purchase (null if none).
    operators/asof.py docstring has the scale argument (union + one
    exchange + sorted carry-forward); DuckDB's native ASOF JOIN is the
    oracle."""
    from datasketches_rust_spark.operators.asof import asof_join
    ev = _t(spark, sf_dir, "events")
    clicks = (ev.where(F.col("event_type") == "click")
              .select("event_id", "user_id", "ts"))
    purchases = (ev.where(F.col("event_type") == "purchase")
                 .select("user_id", "ts", F.col("value").alias("pv")))
    out = asof_join(clicks, purchases, on=["user_id"], ts_col="ts",
                    value_cols=["pv"])
    return out.select("event_id", "user_id",
                      F.col("pv_asof").alias("last_purchase_value"))


@query(oracle="""
        WITH gaps AS (
          SELECT user_id, ts,
                 CASE WHEN lag(ts) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) IS NULL
                      OR epoch_us(ts) - epoch_us(lag(ts) OVER (
                          PARTITION BY user_id ORDER BY ts, event_id))
                          > 1800 * 1000000
                      THEN 1 ELSE 0 END AS new_sess
          FROM events),
        sess AS (
          SELECT user_id,
                 sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sess_id
          FROM gaps)
        SELECT user_id, count(DISTINCT sess_id) AS n_sessions,
               count(*) AS n_events
        FROM sess GROUP BY user_id""")
def q_event_sessions(spark, sf_dir):
    """Gap-based sessionization (30-min inactivity closes a session) —
    the window-function operator class: lag over (user, time) marks
    session starts, a running sum numbers them, then per-user session
    stats. Ordering ties broken by event_id so both engines number
    identically; gap arithmetic in microseconds (unix_micros/epoch_us)
    because second-truncation differs between Spark and DuckDB at the
    boundary. Scale shape: both windows and the final aggregate share
    ONE hash-partitioning on user_id — a single exchange, then sorted
    in-partition passes."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet TIMESTAMP_NTZ needs a cast for unix_micros
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.unix_micros(F.lag("ts").over(w).cast("timestamp"))
    new_sess = F.when(gap.isNull() | (gap > 1800 * 1000000), 1)         .otherwise(0)
    sess = F.sum(new_sess).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (ev.select("user_id", sess.alias("sess_id"))
            .groupBy("user_id")
            .agg(F.count_distinct("sess_id").alias("n_sessions"),
                 F.count("*").alias("n_events")))


@query(oracle_replace="CAST(day AS VARCHAR) AS day, "
                      "CAST(volume_cents AS BIGINT) AS volume_cents",
       oracle="""
    WITH e AS (
      SELECT CAST(ts AS DATE) AS day, event_type, ts, event_id,
             CAST(round(value * 100) AS BIGINT) AS cents
      FROM events),
    ranked AS (
      SELECT day, event_type, cents,
             row_number() OVER (PARTITION BY day, event_type
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY day, event_type
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM e)
    SELECT day, event_type,
           max(CASE WHEN rn_a = 1 THEN cents END) AS open_cents,
           max(CASE WHEN rn_d = 1 THEN cents END) AS close_cents,
           min(cents) AS low_cents,
           max(cents) AS high_cents,
           count(*) AS n_events,
           sum(cents) AS volume_cents
    FROM ranked GROUP BY day, event_type""")
def q_event_ohlc_daily(spark, sf_dir):
    """Time-series bar downsampling (OHLC resample) — the financial /
    observability shape: per (day, event_type), open = value of the
    FIRST event, close = the LAST, plus low/high/count/volume. The
    scale-right formulation is ONE groupBy over the fact table with
    open/close as struct-min/max argmin aggregates ((ts, event_id,
    cents) tuples — event_id breaks ts ties deterministically), never a
    per-group window sort: the window form sorts every partition's full
    event stream, while the struct-min partial-aggregates map-side and
    shuffles one 24-byte tuple per (day, type, mapper). Money stays in
    integer cents end-to-end (double sums are order-sensitive
    cross-engine; see daily_revenue_moving_avg)."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    e = ev.select(F.to_date("ts").alias("day"), "event_type",
                  "ts", "event_id", cents.alias("cents"))
    tup = F.struct("ts", "event_id", "cents")
    return (e.groupBy("day", "event_type").agg(
        F.min(tup)["cents"].alias("open_cents"),
        F.max(tup)["cents"].alias("close_cents"),
        F.min("cents").alias("low_cents"),
        F.max("cents").alias("high_cents"),
        F.count("*").alias("n_events"),
        F.sum("cents").alias("volume_cents")))


@query(oracle="""
    WITH o AS (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS nxt
      FROM events)
    SELECT event_type AS prev_type, nxt AS next_type,
           count(*) AS n_transitions
    FROM o WHERE nxt IS NOT NULL
    GROUP BY event_type, nxt""")
def q_event_markov_transitions(spark, sf_dir):
    """First-order Markov transition counts over per-user event
    sequences — the behavioral-model / next-event-prediction statistic.
    One exchange total: collect each user's (ts, event_id, event_type)
    stream into an array_sort'ed array (ts then event_id — fully
    deterministic ordering), then a JVM transform pairs each element
    with its successor and a bounded groupBy counts the 5x5 transition
    matrix. The window-lag formulation needs the same single exchange
    but adds a per-partition sort of the whole fact table; here the
    sort is per-user (bounded by a user's event count) inside the
    aggregate."""
    ev = _t(spark, sf_dir, "events")
    seq = (ev.groupBy("user_id")
           .agg(F.array_sort(F.collect_list(
               F.struct("ts", "event_id", "event_type"))).alias("s")))
    pairs = seq.select(F.explode(F.expr(
        "transform(slice(s, 1, size(s) - 1), (x, i) -> "
        "struct(x.event_type AS prev_type, "
        "s[i + 1].event_type AS next_type))")).alias("p"))
    return (pairs.select("p.prev_type", "p.next_type")
            .groupBy("prev_type", "next_type")
            .agg(F.count("*").alias("n_transitions")))


@query(window=24, oracle=f"""
    WITH {_SCD2_VERSIONS_CTE}
    SELECT user_id, status, valid_from_us, valid_to_us, version_n,
           (valid_to_us IS NULL) AS is_current
    FROM v""")
def q_scd2_user_versions(spark, sf_dir):
    """Slowly-changing-dimension TYPE 2 reconstruction — the warehouse
    operator that turns an event/CDC stream into a versioned dimension
    (complement of q_cdc_apply_reconstruction's Type-1 upsert): the
    events table is the change log, event_type the tracked attribute.
    One shuffle on user_id total (see _scd2_versions); 8,016 versions
    at sf0.01, every interval exactly tiling the user's event span."""
    return _scd2_versions(_t(spark, sf_dir, "events"))


@query(oracle_replace="CAST(day AS VARCHAR) AS day", oracle=f"""
    WITH {_SCD2_VERSIONS_CTE},
    b AS (SELECT min(ts::DATE) AS d0, max(ts::DATE) AS d1 FROM events),
    days AS (
      SELECT unnest(range((SELECT d0 FROM b),
                          (SELECT d1 FROM b) + INTERVAL 1 DAY,
                          INTERVAL 1 DAY))::DATE AS day),
    u AS (SELECT DISTINCT user_id FROM events),
    g AS (SELECT user_id, day,
                 epoch_us(day + INTERVAL 1 DAY) - 1 AS probe_us
          FROM u CROSS JOIN days)
    SELECT g.user_id AS user_id, g.day AS day,
           vv.status AS status, vv.version_n AS version_n
    FROM g LEFT JOIN v vv
      ON vv.user_id = g.user_id
     AND vv.valid_from_us <= g.probe_us
     AND (vv.valid_to_us IS NULL OR g.probe_us < vv.valid_to_us)""")
def q_scd2_daily_snapshot(spark, sf_dir):
    """POINT-IN-TIME join against the SCD2 dimension — the training-
    snapshot shape ("the feature value each entity had at each label
    date", leakage-safe by construction): a (user x day) probe grid
    asks for the status version valid at each day's last microsecond.
    Composition of two owned operators: _scd2_versions builds the
    intervals, operators/asof.asof_join resolves each probe to the
    latest valid_from <= probe in ONE shuffle (union + sorted carry),
    never an interval-containment theta join — because SCD2 intervals
    tile time per key, as-of(valid_from) IS the containment match, so
    the BNLJ the LEFT JOIN ... BETWEEN oracle formulation implies is
    replaced by a hash exchange. The day grid derives from the data's
    own min/max (two-job-free: a one-row aggregate cross-joined under
    broadcast), |users| x |days| rows — dimension-sized, not
    fact-sized. Probes before a user's first version keep NULL status
    (16 such rows at sf0.01 — the gate covers the no-match edge)."""
    from datasketches_rust_spark.operators.asof import asof_join
    ev = _t(spark, sf_dir, "events")
    versions = _scd2_versions(ev).select(
        "user_id", F.col("valid_from_us").alias("t_us"),
        "status", "version_n")
    bounds = ev.agg(F.min(F.to_date("ts")).alias("d0"),
                    F.max(F.to_date("ts")).alias("d1"))
    days = bounds.select(F.explode(F.sequence("d0", "d1")).alias("day"))
    grid = (ev.select("user_id").distinct()
            .crossJoin(F.broadcast(days))
            # probe at the day's last microsecond, all-integer
            .withColumn(
                "t_us",
                F.unix_micros(F.date_add("day", 1).cast("timestamp"))
                - F.lit(1)))
    out = asof_join(grid, versions, on=["user_id"], ts_col="t_us",
                    value_cols=["status", "version_n"], suffix="")
    return out.select("user_id", "day", "status", "version_n")


@query(oracle_replace="CAST(day AS VARCHAR) AS day", oracle="""
    WITH daily AS (
      SELECT event_type, ts::DATE AS day,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS rev_cents
      FROM events GROUP BY 1, 2)
    SELECT event_type, day, rev_cents,
           CAST(dense_rank() OVER (PARTITION BY event_type
                                   ORDER BY rev_cents DESC) AS BIGINT)
             AS rnk
    FROM daily QUALIFY rnk <= 3""")
def q_ranked_event_days(spark, sf_dir):
    """RANKING-WINDOW class (dense_rank, the ties-share-a-rank member
    of the rank family — row_number already appears in tfidf_top_terms):
    each event type's top-3 revenue days, where 'top-3' means the three
    highest revenue VALUES — a tie at the boundary keeps both days, the
    semantics dense_rank exists for and row_number can't express. The
    window runs over the (type x day) day-level AGGREGATE (~|days| x
    |types| rows regardless of event volume), never the raw fact table;
    revenue in integer cents so rank boundaries are exact on both
    engines. dense_rank over rev_cents alone is deterministic by
    construction: the rank is a function of the VALUE, so no tiebreak
    column is needed for a stable result set."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    daily = (ev.select("event_type", F.to_date("ts").alias("day"),
                       cents.alias("cents"))
             .groupBy("event_type", "day")
             .agg(F.sum("cents").alias("rev_cents")))
    w = Window.partitionBy("event_type").orderBy(F.desc("rev_cents"))
    return (daily.withColumn(
        "rnk", F.dense_rank().over(w).cast("long"))
        .where(F.col("rnk") <= 3))


@query(oracle_replace="CAST(day AS VARCHAR) AS day", oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id,
             CAST(ts AS DATE) - DATE '1970-01-01' AS dayn
      FROM events),
    days AS (SELECT DISTINCT dayn FROM ud),
    c AS (
      SELECT ud.user_id, ud.dayn + i.i AS wend
      FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS i) i)
    SELECT DATE '1970-01-01' + CAST(c.wend AS INT) AS day,
           count(DISTINCT c.user_id) AS wau
    FROM c JOIN days d ON c.wend = d.dayn
    GROUP BY 1""")
def q_wau_daily(spark, sf_dir):
    """ROLLING-WINDOW DISTINCT ACTIVES (the DAU/WAU/MAU report): for
    each calendar day, distinct users active in the trailing 7 days.
    Distinct-over-a-sliding-frame is inexpressible as a window
    function (COUNT(DISTINCT) OVER a RANGE frame doesn't exist in
    either engine, and re-scanning 7 days per day is O(7) passes); the
    scale-right batch form is CONTRIBUTION EXPLODE: collapse events to
    the distinct (user, day) table FIRST (map-side partial distinct —
    the only corpus-sized exchange), explode each row to the <=7
    window-ends it contributes to (bounded x7 blow-up of the already
    user x day-bounded table), then one count-distinct per window end.
    Day arithmetic is integer epoch-days, exact on both engines.
    Window ends are restricted to OBSERVED activity days via a
    broadcast semi-join (days are bounded — calendar-sized), which
    also drops the phantom ends past the data's horizon.

    At 100 TB: exchanges are (user, day) distinct, then (window_end,
    user) count-distinct partials — both collapse early; no window
    sort, no self-join of the fact table."""
    ev = _t(spark, sf_dir, "events")
    ud = (ev.select(
        "user_id",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
        .alias("dayn"))
        .distinct())
    days = ud.select("dayn").distinct()
    contrib = ud.select(
        "user_id",
        F.explode(F.sequence(F.col("dayn"),
                             F.col("dayn") + F.lit(6))).alias("wend"))
    return (contrib
            .join(F.broadcast(days),
                  contrib["wend"] == days["dayn"], "left_semi")
            .groupBy("wend")
            .agg(F.count_distinct("user_id").alias("wau"))
            .select(
                F.date_add(F.lit("1970-01-01").cast("date"),
                           F.col("wend").cast("int")).alias("day"),
                "wau"))


@query(oracle_replace="CAST(day AS VARCHAR) AS day", oracle="""
    WITH first AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS day
      FROM events GROUP BY user_id),
    per_day AS (
      SELECT day, count(*) AS new_users FROM first GROUP BY day)
    SELECT day,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (ORDER BY day
                                     ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_users
    FROM per_day""")
def q_cumulative_users_by_day(spark, sf_dir):
    """GROWTH CURVE (cumulative distinct over time): total distinct
    users ever seen, per day — the running-DAU chart every product
    dashboard opens with. Running COUNT(DISTINCT) over an expanding
    frame is inexpressible as a window function; the scale-right form
    is FIRST-TOUCH: collapse events to min(day) per user (map-side
    combined, the only corpus exchange), count first-appearances per
    day (a calendar-bounded aggregate), then one integer cumsum over
    the tiny day table — exact cross-engine (float window sums are
    not; integers are). Days with no first-appearance are absent from
    the curve by construction (the value is unchanged there); the
    daily_gapfill_ffill machinery densifies if a client needs every
    calendar day."""
    ev = _t(spark, sf_dir, "events")
    first = (ev.select("user_id", F.to_date("ts").alias("day"))
             .groupBy("user_id").agg(F.min("day").alias("day")))
    per_day = first.groupBy("day").agg(
        F.count("*").alias("new_users"))
    w = (Window.orderBy("day")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return per_day.select(
        "day", "new_users",
        F.sum("new_users").over(w).alias("cum_users"))


@query(oracle="""
    WITH RECURSIVE ev AS (
      SELECT user_id,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             CASE WHEN event_type = 'purchase'
                  THEN -CAST(round(value * 100) AS BIGINT)
                  ELSE CAST(round(value * 100) AS BIGINT) END AS delta
      FROM events WHERE event_type IN ('signup', 'purchase')),
    bal AS (
      SELECT user_id, rn,
             greatest(delta, 0) AS bal,
             CASE WHEN delta < 0 THEN 1 ELSE 0 END AS clamps
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn,
             greatest(b.bal + e.delta, 0) AS bal,
             b.clamps + CASE WHEN b.bal + e.delta < 0
                             THEN 1 ELSE 0 END AS clamps
      FROM bal b JOIN ev e
        ON e.user_id = b.user_id AND e.rn = b.rn + 1),
    last AS (
      SELECT user_id, max(rn) AS n_events FROM ev GROUP BY user_id)
    SELECT l.user_id,
           CAST(l.n_events AS BIGINT) AS n_events,
           CAST(b.bal AS BIGINT) AS final_balance_cents,
           CAST(b.clamps AS BIGINT) AS n_clamps
    FROM last l JOIN bal b
      ON b.user_id = l.user_id AND b.rn = l.n_events""")
def q_user_balance_clamped(spark, sf_dir):
    """NON-LINEAR RUNNING AGGREGATE (clamped balance / inventory with
    a floor): per user, fold events in (ts, event_id) order as
    balance = max(0, balance + delta) — signups credit, purchases
    debit, and the floor at zero makes the fold NON-ASSOCIATIVE, so no
    window sum, no scan-reduce trick, no SQL window expresses it. This
    is the canonical applyInPandas shape: a per-key SEQUENTIAL fold
    where state is one scalar and each group is bounded (a user's
    history), grouped on the user key so the only corpus exchange is
    the groupBy — the documented slow path (Python), used precisely
    where the built-ins genuinely cannot express the semantics.
    Integer cents keep the gate float-free; output is user-bounded
    (final balance + how many times the floor clipped a debit). The
    oracle is a WITH RECURSIVE walk over row_number — the SQL-native
    form of the same fold (depth = max events/user, 43 at sf0.01)."""
    from pyspark.sql.types import (LongType, StructField, StructType)
    ev = (_t(spark, sf_dir, "events")
          .where(F.col("event_type").isin("signup", "purchase"))
          .select("user_id", "ts", "event_id",
                  F.when(F.col("event_type") == "purchase",
                         -F.round(F.col("value") * 100).cast("long"))
                  .otherwise(F.round(F.col("value") * 100).cast("long"))
                  .alias("delta")))

    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("final_balance_cents", LongType()),
        StructField("n_clamps", LongType()),
    ])

    def fold(pdf):
        import pandas as pd
        pdf = pdf.sort_values(["ts", "event_id"])
        bal, clamps = 0, 0
        for d in pdf["delta"]:
            nxt = bal + int(d)
            if nxt < 0:
                clamps += 1
                nxt = 0
            bal = nxt
        return pd.DataFrame({"user_id": [pdf["user_id"].iloc[0]],
                             "n_events": [len(pdf)],
                             "final_balance_cents": [bal],
                             "n_clamps": [clamps]})

    return ev.groupBy("user_id").applyInPandas(fold, schema=out_schema)


@query(oracle_replace="CAST(day AS VARCHAR) AS day", oracle="""
    WITH d AS (
      SELECT o_orderdate::DATE AS day, o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders)
    SELECT day, o_orderkey, cents,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cdf,
           CAST(ntile(4) OVER w AS BIGINT) AS quartile
    FROM d
    WINDOW w AS (PARTITION BY day ORDER BY cents, o_orderkey)""")
def q_order_percentiles_daily(spark, sf_dir):
    """The remaining RANK-family window functions as a first-class
    class — percent_rank, cume_dist, ntile(4) — each order placed
    within its ORDER-DATE day: relative standing (percent_rank), the
    empirical CDF value (cume_dist), and the intra-day quartile
    (ntile). Partition = day, the natural bounded unit (rows per day
    don't grow with corpus AGE, so per-partition sorts stay bounded at
    any scale — a percent_rank over an unbounded partition would be a
    global sort; for that shape use the histogram-walk percentile
    approach of source_profile / price_decile_bins). ntile's bucket
    assignment is positional, so ties MUST be ordered deterministically:
    the sort key is (cents, o_orderkey) on both engines. percent_rank /
    cume_dist are exact rational doubles ((rank-1)/(n-1), rank/n — no
    accumulation), so the floats hash cross-engine."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    d = o.select(F.to_date("o_orderdate").alias("day"), "o_orderkey",
                 cents.alias("cents"))
    w = Window.partitionBy("day").orderBy("cents", "o_orderkey")
    return d.select(
        "day", "o_orderkey", "cents",
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cdf"),
        F.ntile(4).over(w).cast("long").alias("quartile"))


def _med2(lst, n):
    """Doubled exact median of a SORTED array column: the sum of the
    two middle order statistics — one integer expression covering odd
    (2x the middle) and even (sum of the two middles) group sizes.
    Used wherever a robust location must stay integer (MAD screens,
    latency medians). Oracle twin: _MED2_SQL.format(l=..., n=...).

    The middle positions are computed with shiftright(x, 1) — integer
    (x div 2) for the nonnegative count n — NOT (x / 2).cast(...):
    Column `/` is DOUBLE division, exact only below 2^53 and a
    different operation from the oracle twin's integer `//`."""
    return (F.element_at(lst, F.shiftright(n + 1, 1).cast("int"))
            + F.element_at(lst, F.shiftright(n + 2, 1).cast("int")))


_MED2_SQL = "({l}[({n} + 1) // 2] + {l}[({n} + 2) // 2])"


@query(oracle_replace="CAST(day AS VARCHAR) AS day", oracle="""
    WITH w AS (
      SELECT CAST(o.o_orderdate AS DATE) AS s,
             -- clamp inverted intervals (e < s) to zero length, same
             -- as the Spark side — unclamped, the -1 delta lands at or
             -- before the +1 and the running count goes negative
             greatest(CAST(max(l.l_shipdate) AS DATE),
                      CAST(o.o_orderdate AS DATE)) AS e
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, 1),
    d AS (
      SELECT s AS day, 1 AS delta FROM w
      UNION ALL
      SELECT e + 1 AS day, -1 FROM w),
    agg AS (SELECT day, sum(delta) AS delta FROM d GROUP BY day),
    span AS (SELECT min(s) AS mn, max(e) AS mx FROM w),
    spine AS (
      SELECT CAST(unnest(range(mn, mx + 1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM span)
    SELECT sp.day,
           CAST(sum(coalesce(a.delta, 0))
                OVER (ORDER BY sp.day) AS BIGINT) AS n_in_flight
    FROM spine sp LEFT JOIN agg a USING (day)""")
def q_orders_in_flight_daily(spark, sf_dir):
    """SWEEP-LINE INTERVAL COVERAGE ("how many orders are in flight on
    day d?") — the concurrency/occupancy class (active sessions, open
    tickets, concurrent rentals). Counting intervals covering each day
    by joining days-to-intervals is O(days x orders); the sweep-line
    form is linear: each order [o_orderdate, max shipdate] becomes two
    DELTA events (+1 at start, -1 the day after the end), deltas
    aggregate per day (map-side combined — the corpus collapses to a
    calendar-bounded table before any sort), and the running count is
    one integer cumsum over the tiny densified day spine. The only
    corpus exchanges are the lineitem end-date aggregate and its
    co-keyed join with orders; the cumsum runs on ~days rows, not
    corpus rows (same scale argument as cumulative_users_by_day). The
    spine is built from the min/max aggregate via crossJoin + sequence
    — no driver collect. Integer counts hash exactly cross-engine.

    Inverted intervals (e < s — impossible in TPC-H but possible in
    messy data) are clamped to the zero-length [s, s]: without the
    clamp the -1 delta lands at or before the +1 and the running count
    goes negative — silently, since BOTH engines would agree (the
    oracle gate can't catch a shared semantic bug). Clamped in the
    Spark query and the oracle identically; the inverted-interval case
    is pinned in tests/test_analytics_edges.py."""
    o = _t(spark, sf_dir, "orders")
    li = (_t(spark, sf_dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(F.max(F.to_date("l_shipdate")).alias("e")))
    w = (o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
         .select(F.to_date("o_orderdate").alias("s"),
                 F.greatest("e", F.to_date("o_orderdate")).alias("e")))
    return _inflight_from_intervals(w)


def _inflight_from_intervals(w):
    """Sweep-line daily coverage over DataFrame[s: date, e: date] with
    s <= e guaranteed by the caller (clamp first). Split out so the
    inverted-interval clamp semantics can be pinned by a unit test on
    a constructed frame."""
    deltas = (w.select(F.col("s").alias("day"), F.lit(1).alias("delta"))
              .unionAll(w.select(F.date_add("e", 1).alias("day"),
                                 F.lit(-1).alias("delta")))
              .groupBy("day").agg(F.sum("delta").alias("delta")))
    spine = (w.agg(F.min("s").alias("mn"), F.max("e").alias("mx"))
             .select(F.explode(F.sequence("mn", "mx")).alias("day")))
    cum = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    return (spine.join(deltas, "day", "left")
            .select("day", F.coalesce("delta", F.lit(0)).alias("d"))
            .select("day", F.sum("d").over(cum).alias("n_in_flight")))


@query(oracle_replace="CAST(day AS VARCHAR) AS day, "
                      "CAST(cents AS BIGINT) AS cents",
       oracle="""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             CAST(datediff('day', DATE '1992-01-01',
                           CAST(l_shipdate AS DATE)) AS BIGINT) AS d,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT)) AS cents
      FROM lineitem GROUP BY 1, 2),
    w AS (
      SELECT day, d, cents,
             sum(cents) OVER fr AS s,
             sum(d * cents) OVER fr AS six,
             sum(d) OVER fr AS sd,
             count(*) OVER fr AS cnt
      FROM daily
      WINDOW fr AS (ORDER BY d RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT day, cents,
           CAST((7 - d) * s + six AS BIGINT) AS lwma_num,
           CAST((7 - d) * cnt + sd AS BIGINT) AS lwma_den,
           CAST((7 - d) * s + six AS DOUBLE)
             / CAST((7 - d) * cnt + sd AS DOUBLE) AS lwma_cents
    FROM w""")
def q_lwma_revenue_daily(spark, sf_dir):
    """WEIGHTED MOVING AVERAGE (linearly-weighted 7-day revenue smooth
    — the LWMA/WMA technical-analysis class, where recency matters and
    a plain moving average lags). A window sum cannot weight rows by
    their distance from the CURRENT row, so the naive form is a
    per-row frame scan (O(days x k), and no engine's window machinery
    expresses it directly). The algebraic identity removes the
    per-row weights entirely: with day index d and weight
    w_i = k - (d_cur - d_i),
      num = sum(w_i * x_i) = (k - d_cur) * S + SIX
    where S = sum(x_i) and SIX = sum(d_i * x_i) are PLAIN range-frame
    window sums of precomputed columns — two integer window sums
    replace the weighted scan (den likewise from count + sum(d_i)).
    Everything stays in integer cents until the final division, so
    both engines hash bit-identically (float window sums do NOT —
    DuckDB's segment-tree addition order differs; CLAUDE.md). Corpus
    exchange: ONE map-side-combined groupBy(day); the window runs on
    the calendar-bounded day table. Gap days are handled by the RANGE
    (not ROWS) frame — the frame is defined on the day index, so
    missing days simply contribute nothing."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100).cast("long")
    daily = (li.groupBy(F.to_date("l_shipdate").alias("day"))
             .agg(F.sum(cents).alias("cents"))
             .select("day", "cents",
                     F.datediff("day", F.lit("1992-01-01"))
                     .cast("long").alias("d")))
    fr = Window.orderBy("d").rangeBetween(-6, 0)
    wd = daily.select(
        "day", "cents", "d",
        F.sum("cents").over(fr).alias("s"),
        F.sum(F.col("d") * F.col("cents")).over(fr).alias("six"),
        F.sum("d").over(fr).alias("sd"),
        F.count("*").over(fr).alias("cnt"))
    num = (7 - F.col("d")) * F.col("s") + F.col("six")
    den = (7 - F.col("d")) * F.col("cnt") + F.col("sd")
    return wd.select(
        "day", "cents",
        num.alias("lwma_num"), den.alias("lwma_den"),
        (num.cast("double") / den.cast("double")).alias("lwma_cents"))


def _user_day_seqs(ev):
    """Compress each user-day's events to a one-char-per-event string
    in (ts, event_id) order — the shared encoding behind the sequence-
    regex and path-mining queries (v/c/p/s/e for view/click/purchase/
    signup/other). ONE groupBy(user, day) exchange; groups bounded by
    a user-day's activity. The oracle-side twin is
    _USER_DAY_SEQS_CTE (string_agg ORDER BY ts, event_id)."""
    ch = (F.when(F.col("event_type") == "view", "v")
          .when(F.col("event_type") == "click", "c")
          .when(F.col("event_type") == "purchase", "p")
          .when(F.col("event_type") == "signup", "s")
          .otherwise("e"))
    return (ev.select("user_id", F.to_date("ts").alias("day"),
                      F.struct("ts", "event_id", ch.alias("c")).alias("t"))
            .groupBy("user_id", "day")
            .agg(F.concat_ws(
                "", F.transform(F.array_sort(F.collect_list("t")),
                                lambda x: x["c"])).alias("s")))


# oracle twin of _user_day_seqs — splice as the head of a WITH chain
_USER_DAY_SEQS_CTE = """ch AS (
      SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
             CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                  WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                  ELSE 'e' END AS c
      FROM events),
    seq AS (
      SELECT user_id, day,
             string_agg(c, '' ORDER BY ts, event_id) AS s
      FROM ch GROUP BY 1, 2)"""


@query(oracle_replace="CAST(day AS VARCHAR) AS day", oracle=f"""
    WITH {_USER_DAY_SEQS_CTE}
    SELECT user_id, day,
           CAST(len(s) AS INTEGER) AS seq_len,
           CAST(len(regexp_extract_all(s, 'v+p')) AS INTEGER) AS n_matches
    FROM seq
    WHERE len(regexp_extract_all(s, 'v+p')) >= 1""")
def q_event_pattern_users(spark, sf_dir):
    """SEQUENCE PATTERN MATCHING (MATCH_RECOGNIZE without the syntax):
    user-days whose event sequence contains the browse-to-buy motif
    "one or more views immediately followed by a purchase" (v+p). The
    relational encoding: compress each user-day's events to a
    character string in (ts, event_id) order — one char per event —
    then run an ordinary regex over it. This turns arbitrary
    regular-language patterns over event streams into string ops the
    JVM executes in whole-stage codegen, with NO per-event joins and
    NO self-join chains (the naive k-step funnel join is O(n^k)).
    Scale shape: ONE groupBy(user, day) exchange; groups are bounded
    by a user-day's activity, so collect_list is safe (same bound
    argument as event_funnel_daily); everything after the aggregate is
    a per-row expression. Ties at identical timestamps are ordered by
    event_id on both engines — array_sort on (ts, event_id, chr)
    structs here, string_agg ORDER BY ts, event_id in the oracle.
    Both regex engines match left-to-right non-overlapping with greedy
    +, so n_matches agrees; counts/lengths are integers."""
    seqs = _user_day_seqs(_t(spark, sf_dir, "events"))
    n = F.regexp_count(F.col("s"), F.lit("v+p"))
    return (seqs.select("user_id", "day",
                        F.length("s").alias("seq_len"),
                        n.alias("n_matches"))
            .where(F.col("n_matches") >= 1))


@query(oracle_replace="CAST(day AS VARCHAR) AS day, CAST(x AS BIGINT) AS x, "
                      "CAST(y AS BIGINT) AS y",
       oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(datediff('day', DATE '2024-01-01',
                           CAST(ts AS DATE)) AS BIGINT) AS d,
             sum(CASE WHEN event_type = 'click'
                      THEN CAST(round(value * 100) AS BIGINT)
                      ELSE 0 END) AS x,
             sum(CASE WHEN event_type = 'purchase'
                      THEN CAST(round(value * 100) AS BIGINT)
                      ELSE 0 END) AS y
      FROM events GROUP BY 1, 2),
    w AS (
      SELECT day, x, y,
             count(*) OVER fr AS n,
             sum(x) OVER fr AS sx, sum(y) OVER fr AS sy,
             sum(x * x) OVER fr AS sxx, sum(y * y) OVER fr AS syy,
             sum(x * y) OVER fr AS sxy
      FROM daily
      WINDOW fr AS (ORDER BY d RANGE BETWEEN 29 PRECEDING AND CURRENT ROW))
    SELECT day, x, y, CAST(n AS BIGINT) AS n,
           CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
                THEN CAST(n * sxy - sx * sy AS DOUBLE)
                     / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
                END AS corr30
    FROM w""")
def q_rolling_corr_daily(spark, sf_dir):
    """ROLLING BIVARIATE STATISTICS (trailing-30-day Pearson between
    the click and purchase daily revenue series — "are these metrics
    still coupled?", the drift monitor next to lineitem_corr_matrix's
    GLOBAL correlation). Rolling corr has no built-in window form; the
    one-pass recipe is six plain window sums of integer MOMENTS
    (n, sx, sy, sxx, syy, sxy) over a RANGE frame on the day index,
    with corr assembled per row from the exact-integer identity
    (n*sxy - sx*sy) / sqrt(n*sxx - sx^2) / sqrt(n*syy - sy^2). Both
    daily series come out of ONE conditional aggregate over the corpus
    (map-side combined, the only corpus exchange; missing types
    contribute 0 to their day), and the windows run on the
    calendar-bounded day table. Integer moments hash exactly; the
    final expression casts exact integers to double (deterministic
    nearest), and sqrt/divide are correctly-rounded IEEE ops, so the
    floats hash cross-engine too (the lineitem_corr_matrix argument).
    Zero-variance windows (n=1, or a flat series) yield NULL, not NaN
    — Spark sorts NaN above numbers, DuckDB doesn't (CLAUDE.md).
    Moments stay in long here; at 10^12-row scale daily totals square
    past 2^63 and the sums move to decimal(38,0), the
    ab_experiment_report recipe."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    daily = (ev.groupBy(F.to_date("ts").alias("day"))
             .agg(F.sum(F.when(F.col("event_type") == "click", cents)
                        .otherwise(F.lit(0))).alias("x"),
                  F.sum(F.when(F.col("event_type") == "purchase", cents)
                        .otherwise(F.lit(0))).alias("y"))
             .select("day", "x", "y",
                     F.datediff("day", F.lit("2024-01-01"))
                     .cast("long").alias("d")))
    fr = Window.orderBy("d").rangeBetween(-29, 0)
    m = daily.select(
        "day", "x", "y",
        F.count("*").over(fr).alias("n"),
        F.sum("x").over(fr).alias("sx"),
        F.sum("y").over(fr).alias("sy"),
        F.sum(F.col("x") * F.col("x")).over(fr).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(fr).alias("syy"),
        F.sum(F.col("x") * F.col("y")).over(fr).alias("sxy"))
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    return m.select(
        "day", "x", "y", "n",
        F.when((vx > 0) & (vy > 0),
               cov.cast("double")
               / (F.sqrt(vx.cast("double")) * F.sqrt(vy.cast("double"))))
        .alias("corr30"))


@query(oracle_replace="CAST(day AS VARCHAR) AS day, "
                      "CAST(cents AS BIGINT) AS cents",
       oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(datediff('day', DATE '1970-01-01',
                           CAST(ts AS DATE)) % 7 AS BIGINT) AS wd,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2, 3),
    wk AS (
      SELECT event_type, wd, sum(cents) AS sw, count(*) AS cw
      FROM daily GROUP BY 1, 2),
    res AS (
      SELECT d.event_type, d.day, d.wd, d.cents,
             d.cents * w.cw - w.sw AS r
      FROM daily d JOIN wk w USING (event_type, wd)),
    med AS (
      SELECT event_type, wd,
             list(abs(r) ORDER BY abs(r)) AS l, count(*) AS n
      FROM res GROUP BY 1, 2),
    m2 AS (
      SELECT event_type, wd,
             {med2} AS mad2
      FROM med)
    SELECT r.event_type, r.day, r.cents,
           CAST(r.r AS BIGINT) AS r, CAST(m.mad2 AS BIGINT) AS mad2,
           CASE WHEN abs(r.r) > m.mad2 THEN 1 ELSE 0 END AS anomaly
    FROM res r JOIN m2 m USING (event_type, wd)""".replace(
    "{med2}", _MED2_SQL.format(l="l", n="n")))
def q_weekday_anomaly_flags(spark, sf_dir):
    """SEASONAL ROBUST ANOMALY DETECTION (day-of-week baseline + MAD
    residual screen — the metrics-monitoring class that a plain
    3-sigma screen gets wrong on weekly-seasonal series, where Sunday
    always "deviates" from the weekday mean). Per (event_type,
    weekday): the residual of each day's revenue against its OWN
    weekday's mean, flagged when it exceeds 2x the weekday's median
    absolute residual. Everything stays integer via scaling tricks:
    residual_scaled = cents*cnt - sum (== (cents - mean) * cnt, no
    rational mean), and mad2 = the DOUBLED exact median of |residuals|
    (sum of the two middle order statistics — covers odd and even
    group sizes in one expression), so the flag |r|*2 > 2*mad2
    simplifies to an integer compare |r| > mad2 with zero floats
    anywhere. Weekday = day-index mod 7 from the shared epoch (both
    engines' native dayofweek disagree on numbering). Scale shape: one
    corpus groupBy to daily cells; weekday stats and medians aggregate
    the calendar-bounded day table (sort_array over groups of
    ~n_days/7 — bounded by the calendar, not the corpus); stats
    broadcast back onto the day table."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.sum(cents).alias("cents"))
             .select("event_type", "day", "cents",
                     (F.datediff("day", F.lit("1970-01-01")) % 7)
                     .cast("long").alias("wd")))
    wk = daily.groupBy("event_type", "wd").agg(
        F.sum("cents").alias("sw"), F.count("*").alias("cw"))
    res = (daily.join(F.broadcast(wk), ["event_type", "wd"])
           .select("event_type", "day", "wd", "cents",
                   (F.col("cents") * F.col("cw") - F.col("sw"))
                   .alias("r")))
    med = (res.groupBy("event_type", "wd")
           .agg(F.sort_array(F.collect_list(F.abs(F.col("r"))))
                .alias("l"), F.count("*").alias("n"))
           .select("event_type", "wd",
                   _med2(F.col("l"), F.col("n")).alias("mad2")))
    return (res.join(F.broadcast(med), ["event_type", "wd"])
            .select("event_type", "day", "cents", "r", "mad2",
                    F.when(F.abs(F.col("r")) > F.col("mad2"), 1)
                    .otherwise(0).alias("anomaly")))


NEXT_EVENT_CTX = 3  # context length for the training-pair builder


@query(oracle="""
    WITH w AS (
      SELECT user_id, event_id,
             lag(event_type, 3) OVER u AS ctx3,
             lag(event_type, 2) OVER u AS ctx2,
             lag(event_type, 1) OVER u AS ctx1,
             event_type AS label
      FROM events
      WINDOW u AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT * FROM w
    WHERE ctx1 IS NOT NULL AND ctx2 IS NOT NULL AND ctx3 IS NOT NULL""")
def q_next_event_training_pairs(spark, sf_dir):
    """SEQUENCE-DATASET CONSTRUCTION (next-event prediction pairs —
    the supervised-dataset builder that turns raw event streams into
    (context window, label) training rows, the event-stream analogue
    of next-token LM data prep). Per user in (ts, event_id) order,
    each event becomes a training row labeled by its type with the 3
    preceding types as features; rows without a full context are
    dropped (no padding — a NULL-padded prefix teaches the model that
    histories start everywhere). Shape: lag(k) windows over the
    user-partitioned order — ONE corpus exchange on user_id, per-user
    sorts bounded by a user's history, output one row per qualifying
    event with tiny fixed-width feature columns. All strings/ints —
    exact cross-engine."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.lag("event_type", k).over(w).alias(f"ctx{k}")
            for k in range(NEXT_EVENT_CTX, 0, -1)]
    out = ev.select("user_id", "event_id", *lags,
                    F.col("event_type").alias("label"))
    cond = F.lit(True)
    for k in range(1, NEXT_EVENT_CTX + 1):
        cond = cond & F.col(f"ctx{k}").isNotNull()
    return out.where(cond)


PATH_TOPK = 20


@query(oracle=f"""
    WITH {_USER_DAY_SEQS_CTE}
    SELECT split_part(s, 'p', 1) || 'p' AS path,
           count(*) AS n_user_days
    FROM seq WHERE contains(s, 'p')
    GROUP BY 1
    ORDER BY n_user_days DESC, path ASC
    LIMIT 20""")
def q_top_purchase_paths(spark, sf_dir):
    """FREQUENT-PATH MINING (the product-analytics "how do users reach
    purchase?" readout): each user-day's event sequence compressed to
    a path string (the event_pattern_users encoding), kept when it
    contains a purchase, truncated AT the first purchase (the
    conversion path, not the post-purchase tail), counted, top-20 by
    frequency with the path string as the deterministic tie-break.
    Scale shape: one groupBy(user, day) exchange builds the bounded
    per-user-day strings; the path census groupBy exchanges one short
    string per user-day (map-side combined — popular paths collapse
    early); the global top-k is TakeOrderedAndProject (per-task heaps,
    never a full sort — the tpch_q3 contract)."""
    seqs = _user_day_seqs(_t(spark, sf_dir, "events"))
    path = F.concat(F.substring_index(F.col("s"), "p", 1), F.lit("p"))
    return (seqs.where(F.col("s").contains("p"))
            .select(path.alias("path"))
            .groupBy("path").agg(F.count("*").alias("n_user_days"))
            .orderBy(F.col("n_user_days").desc(), F.col("path").asc())
            .limit(PATH_TOPK))


@query(window=47,
       oracle_replace="CAST(cusum_max_day AS VARCHAR) AS cusum_max_day",
       oracle="""
    WITH RECURSIVE daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             sum(CAST(round(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2),
    st AS (
      SELECT event_type, sum(cents) AS tot, count(*) AS n
      FROM daily GROUP BY 1),
    r AS (
      SELECT d.event_type, d.day,
             row_number() OVER (PARTITION BY d.event_type
                                ORDER BY d.day) AS rn,
             d.cents * s.n - s.tot AS r
      FROM daily d JOIN st s USING (event_type)),
    hh AS (SELECT event_type, sum(abs(r)) AS h FROM r GROUP BY 1),
    rec AS (
      SELECT r.event_type, r.rn,
             greatest(r.r, 0) AS s,
             greatest(r.r, 0) AS smax,
             CASE WHEN greatest(r.r, 0) > 0 THEN r.day END AS dmax,
             CASE WHEN greatest(r.r, 0) * 4 > hh.h
                  THEN 1 ELSE 0 END AS nab
      FROM r JOIN hh USING (event_type) WHERE r.rn = 1
      UNION ALL
      SELECT e.event_type, e.rn,
             greatest(b.s + e.r, 0),
             greatest(greatest(b.s + e.r, 0), b.smax),
             CASE WHEN greatest(b.s + e.r, 0) > b.smax
                  THEN e.day ELSE b.dmax END,
             b.nab + CASE WHEN greatest(b.s + e.r, 0) * 4 > hh.h
                          THEN 1 ELSE 0 END
      FROM rec b
      JOIN r e ON e.event_type = b.event_type AND e.rn = b.rn + 1
      JOIN hh ON hh.event_type = e.event_type),
    last AS (
      SELECT event_type, max(rn) AS n_days FROM r GROUP BY 1)
    SELECT l.event_type,
           CAST(l.n_days AS BIGINT) AS n_days,
           CAST(h.h AS BIGINT) AS h,
           CAST(b.smax AS BIGINT) AS cusum_max,
           b.dmax AS cusum_max_day,
           CAST(b.nab AS BIGINT) AS n_days_above_q
    FROM last l
    JOIN rec b ON b.event_type = l.event_type AND b.rn = l.n_days
    JOIN hh h ON h.event_type = l.event_type""")
def q_cusum_change_points(spark, sf_dir):
    """CHANGE-POINT DETECTION (one-sided CUSUM control chart — the
    SPC/monitoring class that catches a sustained LEVEL SHIFT a
    point-outlier screen misses, because small same-sign deviations
    accumulate): per event type over its daily revenue series, fold
    S_t = max(0, S_{t-1} + r_t) where r_t is the scaled-integer
    residual cents_t * n - sum (zero-mean by construction, no
    rational mean — the weekday_anomaly trick). The clamp at zero
    makes the fold NON-ASSOCIATIVE (the user_balance_clamped class),
    but here each series is CALENDAR-BOUNDED, so the right shape is a
    JVM F.aggregate over the sorted day array with a struct
    accumulator — no Python, no per-key shuffle beyond the one
    groupBy(type) — tracking the running S, its max, the FIRST day
    achieving that max (strict > keeps the argmax deterministic), and
    how many days S sat above a QUARTER of the natural integer
    scale h = sum(|r|) — evaluated as the scale-free integer compare
    4*S > h, never a rational threshold (and never h itself:
    residuals sum to zero, so S_max <= h/2 and S > h would be
    vacuously false). Output per type: S_max, its day,
    n_days_above_q — all integers. Oracle = WITH RECURSIVE over row_number (the
    balance_clamped recipe; depth = days)."""
    ev = _t(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.sum(cents).alias("cents")))
    per = (daily.groupBy("event_type")
           .agg(F.sum("cents").alias("tot"), F.count("*").alias("n"),
                F.array_sort(F.collect_list(F.struct("day", "cents")))
                .alias("ds")))
    # residual array in day order + its |.| sum (the threshold scale)
    r = F.transform(F.col("ds"),
                    lambda x: x["cents"] * F.col("n") - F.col("tot"))
    base = per.select(
        "event_type", "n",
        F.col("ds").alias("ds"), r.alias("r"),
        F.aggregate(r, F.lit(0).cast("long"),
                    lambda a, x: a + F.abs(x)).alias("h"))
    zero = F.named_struct(
        F.lit("s"), F.lit(0).cast("long"),
        F.lit("smax"), F.lit(0).cast("long"),
        F.lit("imax"), F.lit(-1).cast("int"),
        F.lit("i"), F.lit(0).cast("int"),
        F.lit("nab"), F.lit(0).cast("long"))

    def step(acc, x):
        s = F.greatest(acc["s"] + x, F.lit(0).cast("long"))
        hit = s > acc["smax"]
        return F.named_struct(
            F.lit("s"), s,
            F.lit("smax"), F.greatest(s, acc["smax"]),
            F.lit("imax"), F.when(hit, acc["i"]).otherwise(acc["imax"]),
            F.lit("i"), acc["i"] + 1,
            F.lit("nab"), acc["nab"]
            + F.when(s * 4 > F.col("h"), 1).otherwise(0).cast("long"))

    folded = base.select(
        "event_type", "n", "ds", "h",
        F.aggregate(F.col("r"), zero, step).alias("acc"))
    return folded.select(
        "event_type", F.col("n").cast("long").alias("n_days"), "h",
        F.col("acc.smax").alias("cusum_max"),
        F.when(F.col("acc.imax") >= 0,
               F.element_at("ds", F.col("acc.imax") + 1)["day"])
        .alias("cusum_max_day"),
        F.col("acc.nab").alias("n_days_above_q"))


@query(oracle="""
    WITH ym AS (
      SELECT year(l_shipdate) AS y, month(l_shipdate) AS mo,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT)) AS cents
      FROM lineitem GROUP BY 1, 2),
    shares AS (
      SELECT y, CAST(mo AS INTEGER) AS mo,
             CAST(cents * 1000000
                  // sum(cents) OVER (PARTITION BY y) AS BIGINT)
               AS share_ppm
      FROM ym)
    SELECT mo, count(*) AS n_years,
           CAST(sum(share_ppm) // count(*) AS BIGINT) AS avg_share_ppm,
           min(share_ppm) AS min_share_ppm,
           max(share_ppm) AS max_share_ppm
    FROM shares GROUP BY 1""")
def q_monthly_seasonality_index(spark, sf_dir):
    """CALENDAR SEASONALITY INDEX (the BI "is December always big?"
    readout): each calendar month's average share of its year's
    revenue, across all years — the multiplicative seasonal profile
    (weekday_anomaly_flags is the additive weekly counterpart).
    Integer discipline: per-(year, month) shares in floored ppm
    (cents * 1e6 div year_cents), then the cross-year average as a
    second floored integer division (floor-of-floor is deterministic
    in both engines; a float mean of shares would hash-drift).
    Partial years dilute their months' index — real reports drop
    them; kept here because the gate needs the fixture's exact
    calendar. Scale shape: one corpus groupBy to (year, month) cells
    (calendar-bounded), year totals via a window over that tiny
    table, month profile via a 12-row aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100).cast("long")
    ym = (li.groupBy(F.year("l_shipdate").alias("y"),
                     F.month("l_shipdate").alias("mo"))
          .agg(F.sum(cents).alias("cents")))
    wy = Window.partitionBy("y")
    shares = ym.select(
        "y", "mo",
        F.expr("cents * 1000000").alias("__num"),
        F.sum("cents").over(wy).alias("ycents")) \
        .select("y", "mo",
                F.expr("__num div ycents").alias("share_ppm"))
    return (shares.groupBy("mo")
            .agg(F.count("*").alias("n_years"),
                 F.sum("share_ppm").alias("__s"),
                 F.min("share_ppm").alias("min_share_ppm"),
                 F.max("share_ppm").alias("max_share_ppm"))
            .select("mo", "n_years",
                    F.expr("__s div n_years").alias("avg_share_ppm"),
                    "min_share_ppm", "max_share_ppm"))


@query(oracle="""
    WITH rows_ AS (
      SELECT p.p_brand,
             CAST(datediff('day', DATE '1992-01-01',
                           CAST(l.l_shipdate AS DATE)) AS BIGINT) AS x,
             CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                  AS BIGINT) AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
    m AS (
      SELECT p_brand,
             count(*) AS n, sum(x) AS sx, sum(x * x) AS sxx,
             sum(y) AS sy, sum(x * y) AS sxy
      FROM rows_ GROUP BY 1)
    SELECT p_brand, CAST(n AS BIGINT) AS n_lines,
           CASE WHEN n * sxx - sx * sx > 0 THEN
             CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE)
           END AS slope_cents_per_day,
           CASE WHEN n * sxx - sx * sx > 0 THEN
             (CAST(sy AS DOUBLE)
              - (CAST(n * sxy - sx * sy AS DOUBLE)
                 / CAST(n * sxx - sx * sx AS DOUBLE))
                * CAST(sx AS DOUBLE))
             / CAST(n AS DOUBLE)
           END AS intercept_cents
    FROM m""")
def q_brand_price_trends(spark, sf_dir):
    """GROUPED LINEAR REGRESSION (per-entity trend fitting — "is this
    brand's realized price drifting over time?"; the per-group
    counterpart of lineitem_corr_matrix's global correlation): per
    part brand, the OLS slope and intercept of line-item revenue cents
    against the day index, from EXACT integer moments
    (n, sx, sxx, sy, sxy) accumulated in one map-side-combined
    groupBy — slope = (n*sxy - sx*sy) / (n*sxx - sx^2) only touches
    floats in the final expression over exact integers (identical
    IEEE sequence cross-engine; the ab_experiment/corr recipe).
    Moments use decimal(38,0): day-index*cents products reach ~1e13
    per row and sum over 60k rows past what a cautious reviewer wants
    near 2^63 (the sums here are ~1e17 — representable, but decimal
    removes the audit burden and is the stated 10^12-row shape).
    Degenerate brands (all sales on one day: zero x-variance) yield
    NULL slope, not a division blowup. The part dim joins BROADCAST
    (brand is catalog metadata); one corpus exchange total."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cents = F.round(F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100).cast("long")
    rows = (li.join(F.broadcast(p.select("p_partkey", "p_brand")),
                    li["l_partkey"] == p["p_partkey"])
            .select("p_brand",
                    F.datediff(F.to_date("l_shipdate"),
                               F.lit("1992-01-01")).cast("long")
                    .alias("x"),
                    cents.alias("y")))
    # cast the SUMMANDS, not the finished sum — F.sum(long).cast
    # would still accumulate (and silently wrap) in long; decimal(19)
    # products widen to decimal(38,0) so accumulation itself is exact
    d19 = "decimal(19,0)"
    xd, yd = F.col("x").cast(d19), F.col("y").cast(d19)
    m = rows.groupBy("p_brand").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * yd).alias("sxy"))
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    slope = num.cast("double") / det.cast("double")
    # intercept = (sy - slope*sx) / n — same float discipline
    intercept = ((F.col("sy").cast("double")
                  - slope * F.col("sx").cast("double"))
                 / F.col("n").cast("double"))
    return m.select(
        "p_brand", F.col("n").cast("long").alias("n_lines"),
        F.when(det > 0, slope).alias("slope_cents_per_day"),
        F.when(det > 0, intercept).alias("intercept_cents"))


@query(window=49,
       oracle_replace="CAST(c_week AS VARCHAR) AS c_week",
       oracle="""
    WITH signup AS (
      SELECT user_id, min(CAST(ts AS DATE)) AS c_day
      FROM events WHERE event_type = 'signup' GROUP BY 1),
    cohort AS (
      SELECT user_id, c_day,
             CAST(date_trunc('week', c_day) AS DATE) AS c_week
      FROM signup),
    sizes AS (SELECT c_week, count(*) AS n_users FROM cohort GROUP BY 1),
    buys AS (
      SELECT c.c_week,
             greatest(datediff('day', c.c_day, CAST(e.ts AS DATE)), 0)
               // 7 AS age_week,
             CAST(round(e.value * 100) AS BIGINT) AS cents
      FROM events e JOIN cohort c USING (user_id)
      WHERE e.event_type = 'purchase'),
    grid AS (
      SELECT c_week, age_week, sum(cents) AS week_cents
      FROM buys GROUP BY 1, 2)
    SELECT g.c_week, CAST(g.age_week AS BIGINT) AS age_week,
           CAST(g.week_cents AS BIGINT) AS week_cents,
           CAST(sum(g.week_cents)
                OVER (PARTITION BY g.c_week ORDER BY g.age_week)
                AS BIGINT) AS cum_cents,
           s.n_users,
           CAST(sum(g.week_cents)
                OVER (PARTITION BY g.c_week ORDER BY g.age_week)
                AS DOUBLE) / CAST(s.n_users AS DOUBLE)
             AS ltv_cents_per_user
    FROM grid g JOIN sizes s USING (c_week)""")
def q_cohort_ltv_weekly(spark, sf_dir):
    """COHORT LTV CURVE (cumulative revenue per user by cohort age —
    the monetary counterpart of cohort_retention_weekly's presence
    matrix; "how much is a week-N-old signup cohort worth so far?").
    Cohort = the user's first signup week; each purchase lands at an
    integer week age (day delta div 7); revenue aggregates to the
    (cohort, age) grid (map-side combined — the grid is
    calendar-bounded in both axes) and the running LTV is an integer
    cumsum over each cohort's bounded age series, divided by the
    cohort's user count only in the final per-row expression.
    Purchases BEFORE a user's signup (possible in messy data) are
    clamped to age 0 rather than dropped — money is money; the
    docstring is the contract and the test pins it."""
    ev = _t(spark, sf_dir, "events")
    signup = (ev.where(F.col("event_type") == "signup")
              .groupBy("user_id")
              .agg(F.min(F.to_date("ts")).alias("c_day")))
    # ISO Monday week start via date_trunc — the engines' native
    # dayofweek numberings disagree (CLAUDE.md), date_trunc('week')
    # is Monday-based in BOTH
    cohort = signup.select(
        "user_id", "c_day",
        F.date_trunc("week", F.col("c_day")).cast("date")
        .alias("c_week"))
    sizes = cohort.groupBy("c_week").agg(
        F.count("*").alias("n_users"))
    cents = F.round(F.col("value") * 100).cast("long")
    buys = (ev.where(F.col("event_type") == "purchase")
            .select("user_id", F.to_date("ts").alias("day"),
                    cents.alias("cents"))
            .join(cohort, "user_id")
            .select("c_week",
                    F.greatest(F.datediff("day", "c_day"), F.lit(0))
                    .alias("age_days"), "cents")
            .select("c_week",
                    F.expr("age_days div 7").alias("age_week"),
                    "cents"))
    grid = buys.groupBy("c_week", "age_week").agg(
        F.sum("cents").alias("week_cents"))
    cum = (Window.partitionBy("c_week").orderBy("age_week")
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (grid.select("c_week", "age_week", "week_cents",
                        F.sum("week_cents").over(cum).alias("cum_cents"))
            .join(F.broadcast(sizes), "c_week")
            .select("c_week", "age_week", "week_cents", "cum_cents",
                    "n_users",
                    (F.col("cum_cents").cast("double")
                     / F.col("n_users").cast("double"))
                    .alias("ltv_cents_per_user")))


@query(oracle_replace="CAST(day AS VARCHAR) AS day", oracle="""
    WITH ud AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             min(CASE WHEN event_type = 'view'
                      THEN epoch_us(ts::TIMESTAMP) END) AS v_us,
             min(CASE WHEN event_type = 'purchase'
                      THEN epoch_us(ts::TIMESTAMP) END) AS p_us
      FROM events GROUP BY 1, 2),
    lat AS (
      SELECT day, p_us - v_us AS lat_us FROM ud
      WHERE v_us IS NOT NULL AND p_us IS NOT NULL AND p_us > v_us),
    per_day AS (
      SELECT day, list(lat_us ORDER BY lat_us) AS l, count(*) AS n
      FROM lat GROUP BY 1)
    SELECT day, CAST(n AS BIGINT) AS n_conversions,
           CAST({med2} AS BIGINT)
             AS med2_latency_us,
           CAST(l[(n - 1) * 9 // 10 + 1] AS BIGINT) AS p90_latency_us
    FROM per_day""".replace(
    "{med2}", _MED2_SQL.format(l="l", n="n")))
def q_conversion_latency_daily(spark, sf_dir):
    """LATENCY DISTRIBUTION (time-to-convert: first view -> first
    purchase per user-day, summarized per day with EXACT order
    statistics — the funnel's "how long does conversion take" axis
    that event_funnel_daily's counts don't carry). Integer discipline
    for the percentiles: the doubled exact median med2 (sum of the
    two middle order statistics — the weekday_anomaly recipe) and the
    positional lower p90 (rank (n-1)*9 div 10 + 1, the
    winsorized_order_values convention) over each day's bounded
    latency set — sort_array on groups bounded by converters-per-day,
    never a corpus sort. One groupBy(user, day) collapses events to
    first-view/first-purchase micros (map-side combined via
    conditional mins); only user-days that VIEWED BEFORE purchasing
    convert (purchase-first user-days are browsing after buying, not
    conversion — pinned in the test)."""
    ev = _t(spark, sf_dir, "events")
    ud = (ev.groupBy("user_id", F.to_date("ts").alias("day"))
          .agg(F.min(F.when(
                   F.col("event_type") == "view",
                   F.unix_micros(F.col("ts").cast("timestamp"))))
               .alias("v_us"),
               F.min(F.when(
                   F.col("event_type") == "purchase",
                   F.unix_micros(F.col("ts").cast("timestamp"))))
               .alias("p_us")))
    lat = (ud.where(F.col("v_us").isNotNull()
                    & F.col("p_us").isNotNull()
                    & (F.col("p_us") > F.col("v_us")))
           .select("day", (F.col("p_us") - F.col("v_us"))
                   .alias("lat_us")))
    per_day = (lat.groupBy("day")
               .agg(F.sort_array(F.collect_list("lat_us")).alias("l"),
                    F.count("*").alias("n")))
    med2 = _med2(F.col("l"), F.col("n"))
    p90 = F.element_at(
        "l", (F.expr("(n - 1) * 9 div 10") + 1).cast("int"))
    return per_day.select(
        "day", F.col("n").alias("n_conversions"),
        med2.alias("med2_latency_us"), p90.alias("p90_latency_us"))


@query(oracle="""
    WITH open_ AS (
      SELECT o_orderpriority AS priority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(o_orderdate AS DATE) AS day
      FROM orders WHERE o_orderstatus = 'O'),
    ledger AS (SELECT max(day) AS ledger_day FROM open_),
    aged AS (
      SELECT priority, cents,
             CAST(datediff('day', day, ledger_day) AS BIGINT) AS age
      FROM open_ CROSS JOIN ledger),
    cells AS (
      SELECT priority,
             CASE WHEN age <= 30 THEN '00-30'
                  WHEN age <= 60 THEN '31-60'
                  WHEN age <= 90 THEN '61-90'
                  ELSE '90+' END AS age_bucket,
             count(*) AS n_orders, sum(cents) AS total_cents
      FROM aged GROUP BY 1, 2)
    SELECT priority, age_bucket,
           n_orders, CAST(total_cents AS BIGINT) AS total_cents,
           CAST(total_cents * 1000000 // sum(total_cents) OVER ()
                AS BIGINT) AS share_ppm
    FROM cells""")
def q_open_order_aging(spark, sf_dir):
    """AGING BUCKETS (the accounts-receivable report: open orders
    bucketed by age as of the ledger date — 0-30 / 31-60 / 61-90 /
    90+ days; finance ops runs this daily and reconciles it to the
    penny). "As of" is the corpus max order date (reproducible — wall
    clock would not be; the rfm recency argument); open = status 'O'.
    The bucket is integer arithmetic on the day delta — explicit
    boundaries, no division tricks; per (priority, bucket): order
    count, total cents, and each bucket's share of the open total in
    floored ppm. One corpus pass to the bucket cells (map-side
    combined, bucket-bounded output); the as-of scalar broadcasts
    via crossJoin."""
    o = _t(spark, sf_dir, "orders")
    open_ = o.where(F.col("o_orderstatus") == "O")
    asof = open_.agg(F.max(F.to_date("o_orderdate")).alias("asof"))
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    aged = (open_.crossJoin(F.broadcast(asof))
            .select("o_orderpriority", cents.alias("cents"),
                    F.datediff("asof", F.to_date("o_orderdate"))
                    .cast("long").alias("age")))
    bucket = (F.when(F.col("age") <= 30, "00-30")
              .when(F.col("age") <= 60, "31-60")
              .when(F.col("age") <= 90, "61-90")
              .otherwise("90+"))
    cells = (aged.groupBy(F.col("o_orderpriority").alias("priority"),
                          bucket.alias("age_bucket"))
             .agg(F.count("*").alias("n_orders"),
                  F.sum("cents").alias("total_cents")))
    wall = Window.partitionBy()
    return cells.select(
        "priority", "age_bucket", "n_orders", "total_cents",
        F.expr("total_cents * 1000000").alias("__num"),
        F.sum("total_cents").over(wall).alias("__all")) \
        .select("priority", "age_bucket", "n_orders", "total_cents",
                F.expr("__num div __all").alias("share_ppm"))


@query(oracle="""
    WITH d AS (
      SELECT o_custkey AS ck, o_orderkey AS ok,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(o_orderdate AS DATE) AS day
      FROM orders)
    SELECT a.ck AS c_custkey, a.ok AS orderkey_1, b.ok AS orderkey_2,
           a.cents AS cents_1, b.cents AS cents_2,
           abs(a.cents - b.cents) AS delta_cents,
           CAST(abs(datediff('day', a.day, b.day)) AS BIGINT)
             AS day_gap,
           CAST(abs(a.cents - b.cents) * 1000000
                // greatest(a.cents, b.cents) AS BIGINT) AS delta_ppm
    FROM d a JOIN d b ON a.ck = b.ck AND a.ok < b.ok
    WHERE abs(datediff('day', a.day, b.day)) <= 1""")
def q_rapid_repeat_orders(spark, sf_dir):
    """DUPLICATE-TRANSACTION SCREEN (the payments-ops "possible
    double charge" triage: the same customer ordering again within
    one day — retries and accidental resubmits land here; the
    amount delta is REPORTED as the triage signal rather than
    filtered on, because real duplicates re-price fees/shipping and
    an exact-amount filter misses them). Scale shape: the self-join
    blocks on custkey — an ordinary hash equi-join whose groups are
    bounded by orders-per-customer — with the |date delta| <= 1
    residual and orderkey < orderkey dedup inside the block (the
    candidates-then-verify architecture with the natural key doing
    the blocking; a pathological daily-subscription customer routes
    through operators/skew.py). Output one row per candidate pair:
    both orderkeys, the two amounts, the absolute cents delta, and
    the amount-relative delta in floored ppm — all integers."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    d = o.select(F.col("o_custkey").alias("ck"),
                 F.col("o_orderkey").alias("ok"),
                 cents.alias("cents"),
                 F.to_date("o_orderdate").alias("day"))
    a, b = d.alias("a"), d.alias("b")
    gap = F.abs(F.datediff(F.col("a.day"), F.col("b.day")))
    delta = F.abs(F.col("a.cents") - F.col("b.cents"))
    return (a.join(b, (F.col("a.ck") == F.col("b.ck"))
                   & (F.col("a.ok") < F.col("b.ok")))
            .where(gap <= 1)
            .select(F.col("a.ck").alias("c_custkey"),
                    F.col("a.ok").alias("orderkey_1"),
                    F.col("b.ok").alias("orderkey_2"),
                    F.col("a.cents").alias("cents_1"),
                    F.col("b.cents").alias("cents_2"),
                    delta.alias("delta_cents"),
                    gap.cast("long").alias("day_gap"),
                    F.expr("abs(a.cents - b.cents) * 1000000"
                           " div greatest(a.cents, b.cents)")
                    .alias("delta_ppm")))


KM_CHURN_GAP_DAYS = 90  # no order in the trailing gap => churned


@query(window=26, oracle=f"""
    WITH RECURSIVE per_c AS (
      SELECT o_custkey,
             CAST(min(o_orderdate) AS DATE) AS first_day,
             CAST(max(o_orderdate) AS DATE) AS last_day
      FROM orders GROUP BY 1),
    mx AS (SELECT max(last_day) AS max_day FROM per_c),
    obs AS (
      SELECT CAST(datediff('day', first_day, last_day) AS BIGINT)
               AS dur,
             CASE WHEN datediff('day', last_day, max_day)
                       > {KM_CHURN_GAP_DAYS}
                  THEN 1 ELSE 0 END AS event
      FROM per_c CROSS JOIN mx),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM obs),
    per_t AS (
      SELECT dur, CAST(sum(event) AS BIGINT) AS d,
             CAST(sum(1 - event) AS BIGINT) AS c
      FROM obs GROUP BY 1),
    risk AS (
      SELECT dur, d, c,
             n_total - CAST(coalesce(sum(d + c) OVER (
               ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) AS n_at_risk,
             row_number() OVER (ORDER BY dur) AS rn
      FROM per_t CROSS JOIN tot),
    -- sequential left-assoc survival fold: the identical IEEE
    -- multiply sequence the Spark F.aggregate fold runs
    fold AS (
      SELECT rn, dur, d, c, n_at_risk,
             1.0 - CAST(d AS DOUBLE) / CAST(n_at_risk AS DOUBLE)
               AS s
      FROM risk WHERE rn = 1
      UNION ALL
      SELECT r.rn, r.dur, r.d, r.c, r.n_at_risk,
             f.s * (1.0 - CAST(r.d AS DOUBLE)
                    / CAST(r.n_at_risk AS DOUBLE))
      FROM fold f JOIN risk r ON r.rn = f.rn + 1)
    SELECT dur, n_at_risk, d AS d_events, c AS c_censored,
           s AS survival
    FROM fold WHERE d > 0""")
def q_kaplan_meier_retention(spark, sf_dir):
    """KAPLAN-MEIER SURVIVAL (customer-retention curve with CENSORING
    — the statistic behind every "how long do customers stay" readout;
    a naive churn-rate-by-age curve is biased because customers who
    joined recently haven't had TIME to churn, and KM is the standard
    estimator that handles exactly that). Per customer: duration =
    last order day - first order day; the observation is an EVENT
    (churn) when the last order predates the corpus max day by more
    than KM_CHURN_GAP_DAYS (the reproducible ledger-date discipline —
    no wall clock), else CENSORED. At each event duration t:
    n_t = still-at-risk count, d_t = events; S(t) multiplies
    (1 - d_t/n_t).

    Float discipline: a cumulative float PRODUCT (or exp of a window
    log-sum) is NOT cross-engine-reproducible (DuckDB evaluates window
    sums via a segment tree — CLAUDE.md). S(t) is therefore computed
    as a LEFT-ASSOCIATIVE fold over the duration-ordered term array
    (F.aggregate over an array slice per row), and the oracle replays
    the identical sequential fold with a WITH RECURSIVE chain — the
    same IEEE sequence, bit-for-bit. The term table is bounded by the
    corpus day SPAN (~2.5k rows), so the per-row slice-fold is a few
    million multiplies on a calendar-bounded table, not corpus work;
    the corpus itself collapses in one customer-keyed aggregate.
    Integers (n_at_risk, d_events, c_censored) carry the evidence;
    survival is the one float column."""
    o = _t(spark, sf_dir, "orders")
    per_c = (o.groupBy("o_custkey")
             .agg(F.min(F.to_date("o_orderdate")).alias("first_day"),
                  F.max(F.to_date("o_orderdate")).alias("last_day")))
    mx = per_c.agg(F.max("last_day").alias("max_day"))
    obs = (per_c.crossJoin(F.broadcast(mx))
           .select(
               F.datediff("last_day", "first_day").cast("long")
               .alias("dur"),
               (F.datediff("max_day", "last_day")
                > KM_CHURN_GAP_DAYS).cast("long").alias("event")))
    tot = obs.agg(F.count("*").alias("n_total"))
    per_t = (obs.groupBy("dur")
             .agg(F.sum("event").alias("d"),
                  F.sum(1 - F.col("event")).alias("c")))
    w = Window.orderBy("dur").rowsBetween(Window.unboundedPreceding, -1)
    risk = (per_t.crossJoin(F.broadcast(tot))
            .withColumn("left_before", F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(w), F.lit(0)))
            .withColumn("n_at_risk",
                        F.col("n_total") - F.col("left_before")))
    # duration-ordered term array, folded left-assoc per row
    terms = risk.agg(F.array_sort(F.collect_list(F.struct(
        F.col("dur"),
        (F.lit(1.0) - F.col("d").cast("double")
         / F.col("n_at_risk").cast("double")).alias("t")))).alias("a"))
    row = (risk.crossJoin(F.broadcast(terms))
           .withColumn("idx", F.expr(
               "array_position(transform(a, x -> x.dur), dur)")))
    surv = F.aggregate(
        F.slice(F.col("a"), F.lit(1), F.col("idx").cast("int")),
        F.lit(1.0),
        lambda acc, x: acc * x["t"])
    return (row.select("dur", "n_at_risk",
                       F.col("d").alias("d_events"),
                       F.col("c").alias("c_censored"),
                       surv.alias("survival"))
            .where(F.col("d_events") > 0))


SLA_BUSINESS_DAYS = 7  # order-to-last-ship SLA in business days


@query(window=27, oracle=f"""
    WITH li AS (
      SELECT l_orderkey,
             CAST(max(l_shipdate) AS DATE) AS ship_day
      FROM lineitem GROUP BY 1),
    j AS (
      SELECT o.o_orderpriority,
             datediff('day', DATE '1970-01-01',
                      CAST(o.o_orderdate AS DATE)) AS a,
             -- clamp inverted intervals, matching the Spark side
             greatest(
               datediff('day', DATE '1970-01-01', li.ship_day),
               datediff('day', DATE '1970-01-01',
                        CAST(o.o_orderdate AS DATE))) AS b
      FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey),
    per AS (
      SELECT o_orderpriority,
             ((b - a) // 7) * 5
             + len(list_filter(range(1, (b - a) % 7 + 1),
                               k -> ((a + 3) % 7 + k) % 7 <= 4))
               AS bd
      FROM j)
    SELECT o_orderpriority AS priority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN bd > {SLA_BUSINESS_DAYS} THEN 1 ELSE 0
                    END) AS BIGINT) AS n_breaches,
           CAST(sum(CASE WHEN bd > {SLA_BUSINESS_DAYS} THEN 1 ELSE 0
                    END) * 1000000 // count(*) AS BIGINT)
             AS breach_ppm,
           CAST(max(bd) AS BIGINT) AS max_business_days
    FROM per GROUP BY 1""")
def q_sla_business_days(spark, sf_dir):
    """BUSINESS-DAY SLA AGING (calendar arithmetic class: elapsed
    Mon-Fri days between order and final ship, breach report per
    priority — wall-clock day counts misstate SLAs that pause on
    weekends). Exact integer formula both engines share: with a,b =
    days-since-epoch and the epoch-mod-7 weekday convention
    (CLAUDE.md: native dayofweek numberings disagree; 1970-01-01 was a
    Thursday, so Mon=0 index = (a+3)%7): full_weeks*5 plus the
    weekday count of the <=6-day remainder window, evaluated by the
    same filtered-sequence expression in Spark SQL and DuckDB (empty
    remainder guarded — Spark's sequence(1,0) is DESCENDING, not
    empty). Per priority: orders, breaches (> SLA days), floored ppm
    breach rate, max elapsed. One co-keyed corpus join + one bounded
    aggregate."""
    o = _t(spark, sf_dir, "orders")
    li = (_t(spark, sf_dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(F.max(F.to_date("l_shipdate")).alias("ship_day")))
    j = (o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
         .select("o_orderpriority",
                 F.unix_date(F.to_date("o_orderdate")).alias("a"),
                 # clamp inverted intervals (ship < order in messy
                 # data) to zero elapsed: unclamped, (b-a) goes
                 # negative where Spark div TRUNCATES and DuckDB //
                 # FLOORS — a real 2-count divergence measured at
                 # sf0.01 (the orders_in_flight clamp discipline)
                 F.greatest(F.unix_date("ship_day"),
                            F.unix_date(F.to_date("o_orderdate")))
                 .alias("b")))
    bdays = F.expr(
        "((b - a) div 7) * 5 + if((b - a) % 7 = 0, 0,"
        " size(filter(sequence(1, (b - a) % 7),"
        "             k -> ((a + 3) % 7 + k) % 7 <= 4)))")
    per = j.select("o_orderpriority", bdays.alias("bd"))
    return (per.groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(F.count("*").alias("n_orders"),
                 F.sum(F.when(F.col("bd") > SLA_BUSINESS_DAYS, 1)
                       .otherwise(0)).alias("n_breaches"),
                 F.max("bd").alias("max_business_days"))
            .select("priority", "n_orders", "n_breaches",
                    F.expr("n_breaches * 1000000 div n_orders")
                    .alias("breach_ppm"),
                    "max_business_days"))


EWMA_ALPHA = 0.2


@query(oracle_replace="CAST(day AS VARCHAR) AS day", oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1),
    ord AS (
      SELECT day, cents, row_number() OVER (ORDER BY day) AS rn
      FROM daily),
    -- sequential left-assoc EWMA fold: literally
    -- {EWMA_ALPHA}*x + {1.0 - EWMA_ALPHA}*acc in that order, the
    -- identical IEEE sequence the Spark F.aggregate fold runs
    fold AS (
      SELECT rn, day, cents, CAST(cents AS DOUBLE) AS ewma
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.rn, o.day, o.cents,
             {EWMA_ALPHA} * CAST(o.cents AS DOUBLE)
             + {1.0 - EWMA_ALPHA} * f.ewma
      FROM fold f JOIN ord o ON o.rn = f.rn + 1)
    SELECT day, cents, ewma FROM fold""")
def q_ewma_daily_revenue(spark, sf_dir):
    """EWMA CONTROL CHART over daily revenue (the exponentially-
    weighted moving average next to LWMA's linear window and CUSUM's
    drift accumulator: EWMA_t = alpha*x_t + (1-alpha)*EWMA_{t-1} — the
    standard smoother whose state never forgets, unlike the bounded
    frames). A cumulative float recurrence over a window is NOT
    cross-engine-reproducible, so the fold runs LEFT-ASSOCIATIVE per
    row over the day-ordered term array (the kaplan_meier discipline:
    F.aggregate over a slice; the oracle replays the identical IEEE
    sequence in a recursive CTE — both engines evaluate literally
    0.2*x + 0.8*acc in that order). The day table is calendar-bounded
    (~2.4k rows), so the per-row slice-fold is bounded work and the
    corpus collapses in ONE day aggregate first; cents stay integer,
    the EWMA is the one float column."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    daily = (o.groupBy(F.to_date("o_orderdate").alias("day"))
             .agg(F.sum(cents).alias("cents")))
    arr = daily.agg(F.array_sort(F.collect_list(
        F.struct("day", "cents"))).alias("a"))
    row = (daily.crossJoin(F.broadcast(arr))
           .withColumn("idx", F.expr(
               "array_position(transform(a, x -> x.day), day)")))
    ewma = F.aggregate(
        F.slice(F.col("a"), F.lit(2), (F.col("idx") - 1).cast("int")),
        F.element_at(F.col("a"), 1)["cents"].cast("double"),
        lambda acc, x: (F.lit(EWMA_ALPHA) * x["cents"].cast("double")
                        + F.lit(1.0 - EWMA_ALPHA) * acc))
    return row.select("day", "cents", ewma.alias("ewma"))


@query(oracle_replace="CAST(month AS VARCHAR) AS month", oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1),
    j AS (
      SELECT CAST(date_trunc('month', d.day) AS DATE) AS month,
             abs(d.cents - l7.cents) AS e7,
             abs(d.cents - l1.cents) AS e1
      FROM daily d
      JOIN daily l7 ON l7.day = d.day - 7
      JOIN daily l1 ON l1.day = d.day - 1)
    SELECT month, CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(e7) AS BIGINT) AS err7_cents,
           CAST(sum(e1) AS BIGINT) AS err1_cents,
           CAST(sum(e7) AS DOUBLE) / CAST(sum(e1) AS DOUBLE)
             AS mase_naive7
    FROM j GROUP BY 1""")
def q_forecast_backtest_naive7(spark, sf_dir):
    """FORECAST BACKTEST (seasonal-naive baseline — the MASE
    denominator convention: before any model ships, measure what
    "predict last week's value" already achieves). Per day with both
    lag-7 and lag-1 history present, the absolute errors of the
    seasonal-naive (x_{t-7}) and naive (x_{t-1}) forecasts in integer
    cents; per month: evaluated days, both error sums, and the
    MASE-like ratio err7/err1 as the one shared-expression float
    (<1 = weekly seasonality is real signal). Shape: the corpus
    collapses to the calendar-bounded day table ONCE; both lags are
    self-joins of that bounded table (never a corpus window); month
    rollup is a tiny aggregate."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    daily = (o.groupBy(F.to_date("o_orderdate").alias("day"))
             .agg(F.sum(cents).alias("cents")))
    l7 = daily.select(F.date_add(F.col("day"), 7).alias("day"),
                      F.col("cents").alias("c7"))
    l1 = daily.select(F.date_add(F.col("day"), 1).alias("day"),
                      F.col("cents").alias("c1"))
    j = (daily.join(l7, "day").join(l1, "day")
         .select(F.date_trunc("month", F.col("day")).cast("date")
                 .alias("month"),
                 F.abs(F.col("cents") - F.col("c7")).alias("e7"),
                 F.abs(F.col("cents") - F.col("c1")).alias("e1")))
    agg_ = (j.groupBy("month")
            .agg(F.count("*").alias("n_days"),
                 F.sum("e7").alias("err7_cents"),
                 F.sum("e1").alias("err1_cents")))
    return agg_.select(
        "month", "n_days", "err7_cents", "err1_cents",
        (F.col("err7_cents").cast("double")
         / F.col("err1_cents").cast("double")).alias("mase_naive7"))


HOLT_ALPHA, HOLT_BETA = 0.3, 0.1


@query(oracle_replace="CAST(day AS VARCHAR) AS day", oracle=f"""
    WITH RECURSIVE daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1),
    ord AS (
      SELECT day, cents, row_number() OVER (ORDER BY day) AS rn
      FROM daily),
    fold AS (
      SELECT rn, day, cents, CAST(cents AS DOUBLE) AS l,
             CAST(0.0 AS DOUBLE) AS b
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.rn, o.day, o.cents,
             {HOLT_ALPHA} * CAST(o.cents AS DOUBLE)
               + {1.0 - HOLT_ALPHA} * (f.l + f.b),
             {HOLT_BETA} * (({HOLT_ALPHA} * CAST(o.cents AS DOUBLE)
               + {1.0 - HOLT_ALPHA} * (f.l + f.b)) - f.l)
               + {1.0 - HOLT_BETA} * f.b
      FROM fold f JOIN ord o ON o.rn = f.rn + 1)
    SELECT day, cents, l AS level, b AS trend,
           l + b AS forecast_next
    FROM fold""")
def q_holt_linear_daily(spark, sf_dir):
    """HOLT LINEAR (double exponential) SMOOTHING over daily revenue —
    the level+trend state EWMA lacks (ewma_daily_revenue flattens
    trends; Holt tracks them, and level+trend IS the one-step
    forecast). TWO mutually recursive accumulators ride ONE
    F.aggregate fold as a named-struct accumulator (the CUSUM
    discipline):
      l_t = a*x_t + (1-a)*(l_{t-1} + b_{t-1})
      b_t = g*(l_t - l_{t-1}) + (1-g)*b_{t-1}
    evaluated left-associatively over the day-ordered array; the
    oracle replays the IDENTICAL expression shapes (l_t appears
    twice in b_t — same IEEE value, duplicated expression) in a
    recursive CTE. Day table calendar-bounded; cents integer; level/
    trend/forecast the float columns."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    daily = (o.groupBy(F.to_date("o_orderdate").alias("day"))
             .agg(F.sum(cents).alias("cents")))
    arr = daily.agg(F.array_sort(F.collect_list(
        F.struct("day", "cents"))).alias("a"))
    row = (daily.crossJoin(F.broadcast(arr))
           .withColumn("idx", F.expr(
               "array_position(transform(a, x -> x.day), day)")))
    a_, g_ = F.lit(HOLT_ALPHA), F.lit(HOLT_BETA)

    def step(acc, x):
        xd = x["cents"].cast("double")
        new_l = a_ * xd + (F.lit(1.0) - a_) * (acc["l"] + acc["b"])
        new_b = (g_ * ((a_ * xd + (F.lit(1.0) - a_)
                        * (acc["l"] + acc["b"])) - acc["l"])
                 + (F.lit(1.0) - g_) * acc["b"])
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    init = F.struct(
        F.element_at(F.col("a"), 1)["cents"].cast("double").alias("l"),
        F.lit(0.0).alias("b"))
    st = F.aggregate(
        F.slice(F.col("a"), F.lit(2), (F.col("idx") - 1).cast("int")),
        init, step)
    return row.select(
        "day", "cents",
        st["l"].alias("level"), st["b"].alias("trend"),
        (st["l"] + st["b"]).alias("forecast_next"))


AUTOCORR_LAGS = (1, 7, 28)


@query(oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS day,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY 1),
    m AS (
      SELECT l.lag, count(*) AS n,
             sum(CAST(a.cents AS DECIMAL(19,0))) AS sx,
             sum(CAST(b.cents AS DECIMAL(19,0))) AS sy,
             sum(CAST(a.cents AS DECIMAL(19,0))
                 * CAST(a.cents AS DECIMAL(19,0))) AS sxx,
             sum(CAST(b.cents AS DECIMAL(19,0))
                 * CAST(b.cents AS DECIMAL(19,0))) AS syy,
             sum(CAST(a.cents AS DECIMAL(19,0))
                 * CAST(b.cents AS DECIMAL(19,0))) AS sxy
      FROM daily a
      JOIN (VALUES (1), (7), (28)) l(lag) ON TRUE
      JOIN daily b ON b.day = a.day - l.lag
      GROUP BY 1)
    SELECT CAST(lag AS INTEGER) AS lag, CAST(n AS BIGINT) AS n,
           CAST(CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS DOUBLE)
           / sqrt(CAST(CAST(n AS DECIMAL(38,0)) * sxx - sx * sx
                       AS DOUBLE)
                  * CAST(CAST(n AS DECIMAL(38,0)) * syy - sy * sy
                         AS DOUBLE)) AS autocorr
    FROM m""")
def q_revenue_autocorr(spark, sf_dir):
    """REVENUE AUTOCORRELATION at lags 1/7/28 days (the seasonality
    detector that says WHETHER forecast_backtest_naive7's weekly
    forecast should work, before it runs): exact-INTEGER-moment
    Pearson (the lineitem_corr_matrix discipline — summands cast to
    decimal(19,0) so products widen to decimal(38,0) and never wrap;
    only the final correlation expression leaves integer space, so
    both engines hash the identical double). Shape: the corpus
    collapses to the calendar-bounded day table once; each lag is an
    equi-join of that bounded table against its shifted self; output
    is one row per lag."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    daily = (o.groupBy(F.to_date("o_orderdate").alias("day"))
             .agg(F.sum(cents).alias("cents")))
    lags = _local_frame(spark, [(l,) for l in AUTOCORR_LAGS],
                        StructType([StructField("lag", IntegerType())]))
    a = (daily.crossJoin(F.broadcast(lags))
         .select("lag", F.col("day"), F.col("cents").alias("x")))
    b = daily.select(F.col("day").alias("bday"),
                     F.col("cents").alias("y"))
    d19 = "decimal(19,0)"
    j = (a.join(b, F.expr("bday = day - lag"))
         .groupBy("lag")
         .agg(F.count("*").alias("n"),
              F.sum(F.col("x").cast(d19)).alias("sx"),
              F.sum(F.col("y").cast(d19)).alias("sy"),
              F.sum(F.col("x").cast(d19) * F.col("x").cast(d19))
              .alias("sxx"),
              F.sum(F.col("y").cast(d19) * F.col("y").cast(d19))
              .alias("syy"),
              F.sum(F.col("x").cast(d19) * F.col("y").cast(d19))
              .alias("sxy")))
    d38 = "decimal(38,0)"
    n = F.col("n").cast(d38)
    num = (n * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt((n * F.col("sxx") - F.col("sx") * F.col("sx"))
                 .cast("double")
                 * (n * F.col("syy") - F.col("sy") * F.col("sy"))
                 .cast("double"))
    return j.select("lag", "n",
                    (num / den).alias("autocorr"))
