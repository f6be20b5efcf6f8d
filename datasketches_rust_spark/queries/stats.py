"""Statistics query classes over the TPC-H and events tables: moments,
quantiles, correlation, two-sample tests, concentration and experiment
readouts, mostly in exact integer arithmetic. None calls sketch, LSH,
dedup or text-pipeline code."""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Window, functions as F

from datasketches_rust_spark.queries._common import DRIFT_SPLIT_DAY, _t
from datasketches_rust_spark.queries._registry import query


@query(oracle="""
        WITH li AS (
          SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
                 CAST(round(l_extendedprice * 100) AS BIGINT) // 100
                   AS v
          FROM lineitem),
        nn AS (SELECT count(*) AS n FROM li),
        cum AS (
          SELECT v, count(*) AS c,
                 sum(count(*)) OVER (ORDER BY v
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM li GROUP BY v),
        cuts AS (
          SELECT list(cut ORDER BY cut) AS cs FROM (
            SELECT min(CASE WHEN cum >= floor((n - 1) * q.q) + 1
                            THEN v END) AS cut
            FROM cum CROSS JOIN nn
            CROSS JOIN (SELECT unnest([0.1, 0.2, 0.3, 0.4, 0.5, 0.6,
                                       0.7, 0.8, 0.9]) AS q) q
            GROUP BY q.q))
        SELECT len(list_filter(cs, c -> c <= v)) AS bin,
               count(*) AS n_rows,
               min(v) AS lo_dollars, max(v) AS hi_dollars,
               CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM li CROSS JOIN cuts
        GROUP BY 1""")
def q_price_decile_bins(spark, sf_dir):
    """QUANTILE BINNING (equi-height feature bins — the ML feature-prep
    discretization): exact decile cut points over lineitem price, then
    every row bucketed 0..9 by how many cuts it clears, reported as
    per-bin (rows, lo, hi, sum). Money is handled in integers
    throughout (cents = round(price*100), binned on whole dollars) so
    the gate is hash-exact — no float percentile, no float sum.

    Scale shape: the cut computation is source_profile's bounded-
    cardinality histogram walk — (dollar, count) aggregate first
    (map-side combined; cardinality bounded by the price DOMAIN, not
    the row count), cumulative window over that tiny table, the q-th
    cut = smallest value whose running count reaches floor((n-1)q)+1.
    The 9 cuts then travel to the fact scan as ONE broadcast array row
    and binning is a pure JVM map (size(filter(cuts, c <= v))) — the
    raw table never sorts and never shuffles except the final 10-row
    aggregate. percentile_approx would avoid even the histogram pass
    at the cost of exactness; this is the exact path."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.round(F.col("l_extendedprice") * 100).cast("long")
        .alias("cents"))
    li = li.withColumn("v", F.expr("cents div 100"))
    n = li.agg(F.count("*").alias("n"))
    cum = (li.groupBy("v").agg(F.count("*").alias("c"))
           .withColumn("cum", F.sum("c").over(
               Window.orderBy("v"))))
    qs = [i / 10 for i in range(1, 10)]
    cuts_row = (cum.crossJoin(F.broadcast(n)).agg(*[
        F.min(F.when(F.col("cum") >= F.floor((F.col("n") - 1)
                                             * F.lit(q)) + 1,
                     F.col("v"))).alias(f"c{i}")
        for i, q in enumerate(qs)]))
    cuts = cuts_row.select(F.array(*[F.col(f"c{i}")
                                     for i in range(9)]).alias("cs"))
    binned = (li.crossJoin(F.broadcast(cuts))
              .withColumn("bin", F.size(F.filter(
                  "cs", lambda c: c <= F.col("v")))))
    return (binned.groupBy("bin")
            .agg(F.count("*").alias("n_rows"),
                 F.min("v").alias("lo_dollars"),
                 F.max("v").alias("hi_dollars"),
                 F.sum("cents").alias("sum_cents")))


@query(window=42, oracle="""
        WITH b AS (
          SELECT CAST(l_quantity AS HUGEINT) q,
                 CAST(round(l_extendedprice * 100) AS HUGEINT) p,
                 CAST(round(l_discount * 100) AS HUGEINT) d,
                 CAST(round(l_tax * 100) AS HUGEINT) t
          FROM lineitem),
        m AS (
          SELECT CAST(count(*) AS HUGEINT) n,
                 sum(q) sq, sum(p) sp, sum(d) sd, sum(t) st,
                 sum(q*q) sqq, sum(q*p) sqp, sum(q*d) sqd, sum(q*t) sqt,
                 sum(p*p) spp, sum(p*d) spd, sum(p*t) spt,
                 sum(d*d) sdd, sum(d*t) sdt, sum(t*t) stt
          FROM b)
        SELECT col_a, col_b, corr FROM (
          SELECT 'q' col_a, 'p' col_b, CAST(n*sqp - sq*sp AS DOUBLE)
                 / (sqrt(CAST(n*sqq - sq*sq AS DOUBLE))
                    * sqrt(CAST(n*spp - sp*sp AS DOUBLE))) corr FROM m
          UNION ALL
          SELECT 'q', 'd', CAST(n*sqd - sq*sd AS DOUBLE)
                 / (sqrt(CAST(n*sqq - sq*sq AS DOUBLE))
                    * sqrt(CAST(n*sdd - sd*sd AS DOUBLE))) FROM m
          UNION ALL
          SELECT 'q', 't', CAST(n*sqt - sq*st AS DOUBLE)
                 / (sqrt(CAST(n*sqq - sq*sq AS DOUBLE))
                    * sqrt(CAST(n*stt - st*st AS DOUBLE))) FROM m
          UNION ALL
          SELECT 'p', 'd', CAST(n*spd - sp*sd AS DOUBLE)
                 / (sqrt(CAST(n*spp - sp*sp AS DOUBLE))
                    * sqrt(CAST(n*sdd - sd*sd AS DOUBLE))) FROM m
          UNION ALL
          SELECT 'p', 't', CAST(n*spt - sp*st AS DOUBLE)
                 / (sqrt(CAST(n*spp - sp*sp AS DOUBLE))
                    * sqrt(CAST(n*stt - st*st AS DOUBLE))) FROM m
          UNION ALL
          SELECT 'd', 't', CAST(n*sdt - sd*st AS DOUBLE)
                 / (sqrt(CAST(n*sdd - sd*sd AS DOUBLE))
                    * sqrt(CAST(n*stt - st*st AS DOUBLE))) FROM m)
        ORDER BY col_a, col_b""")
def q_lineitem_corr_matrix(spark, sf_dir):
    """Pearson correlation matrix of the four lineitem measures — the
    statistics/profiling operator class (the `df.stat.corr` surface),
    done scale-right AND cross-engine-exact: ONE pass computes every
    raw moment (4 sums, 10 pairwise product sums, n) under map-side
    combine, so the corpus collapses to a single row regardless of
    table size; the 6 off-diagonal correlations then derive from that
    row. Floats cross-engine-hash because every moment is EXACT integer
    arithmetic in the measures' natural units (quantity integral,
    price/discount/tax in hundredths => decimal(38,0) sums, hugeint in
    DuckDB — headroom to ~1e38 covers 1e9+ rows at these magnitudes)
    and only the FINAL corr expression drops to float, where both
    engines perform the identical IEEE sequence: int->double, sqrt,
    multiply, divide. A float-accumulated corr() would diverge in the
    5th decimal between engines (addition order); the exact-moment
    form is also the numerically honest one."""
    li = _t(spark, sf_dir, "lineitem")
    dec = "decimal(19,0)"
    base = li.select(
        F.col("l_quantity").cast(dec).alias("q"),
        F.round(F.col("l_extendedprice") * 100).cast(dec).alias("p"),
        F.round(F.col("l_discount") * 100).cast(dec).alias("d"),
        F.round(F.col("l_tax") * 100).cast(dec).alias("t"))
    cols = ["q", "p", "d", "t"]
    aggs = [F.count("*").cast("decimal(38,0)").alias("n")]
    for i, a in enumerate(cols):
        aggs.append(F.sum(F.col(a)).alias(f"s_{a}"))
        for b in cols[i:]:
            aggs.append(F.sum(F.col(a) * F.col(b)).alias(f"s_{a}{b}"))
    mom = base.agg(*aggs)

    def corr_struct(a, b):
        n = F.col("n")
        num = (n * F.col(f"s_{a}{b}")
               - F.col(f"s_{a}") * F.col(f"s_{b}")).cast("double")
        va = (n * F.col(f"s_{a}{a}")
              - F.col(f"s_{a}") * F.col(f"s_{a}")).cast("double")
        vb = (n * F.col(f"s_{b}{b}")
              - F.col(f"s_{b}") * F.col(f"s_{b}")).cast("double")
        return F.struct(F.lit(a).alias("col_a"), F.lit(b).alias("col_b"),
                        (num / (F.sqrt(va) * F.sqrt(vb))).alias("corr"))

    pairs = [corr_struct(a, b)
             for i, a in enumerate(cols) for b in cols[i + 1:]]
    return (mom.select(F.explode(F.array(*pairs)).alias("r"))
            .select("r.*").orderBy("col_a", "col_b"))


@query(oracle_replace="CAST(n AS BIGINT) AS n", oracle="""
        WITH h AS (
          SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents,
                 count(*) AS c
          FROM events GROUP BY 1, 2),
        n AS (SELECT event_type, sum(c) AS n FROM h GROUP BY 1),
        cum AS (
          SELECT event_type, cents,
                 sum(c) OVER (PARTITION BY event_type
                              ORDER BY cents) AS cum
          FROM h),
        med AS (
          SELECT cum.event_type, min(cents) AS med_cents
          FROM cum JOIN n USING (event_type)
          WHERE cum >= (n + 1) // 2 GROUP BY 1),
        d AS (
          SELECT h.event_type, abs(cents - med_cents) AS d,
                 sum(c) AS c
          FROM h JOIN med USING (event_type) GROUP BY 1, 2),
        dcum AS (
          SELECT event_type, d,
                 sum(c) OVER (PARTITION BY event_type ORDER BY d) AS cum
          FROM d),
        mad AS (
          SELECT dcum.event_type, min(d) AS mad_cents
          FROM dcum JOIN n USING (event_type)
          WHERE cum >= (n + 1) // 2 GROUP BY 1)
        SELECT event_type, n, med_cents, mad_cents
        FROM n JOIN med USING (event_type) JOIN mad USING (event_type)""")
def q_event_mad_by_type(spark, sf_dir):
    """ROBUST STATISTICS (exact median + median absolute deviation) —
    the outlier-resistant counterpart of event_outlier_counts' 3-sigma
    screen (one wild value moves a mean/stddev arbitrarily; it moves
    the median/MAD not at all). Both statistics derive from ONE
    bounded-cardinality histogram: values quantize to cents (the
    fixture's native 2-decimal grain), the corpus collapses to a
    (type, cents, count) aggregate under map-side combine, the median
    is a cumulative walk over that tiny table (lower-median convention:
    smallest v with cum >= (n+1) div 2, the source_profile rule), and
    the MAD histogram is a RE-AGGREGATION of the same table by
    |cents - median| — the raw table is scanned once, sorted never.
    The histogram is checkpointed so its three consumers (median walk,
    MAD re-aggregation, totals) don't re-run the corpus aggregate."""
    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"))
    h = (ev.groupBy("event_type", "cents").agg(F.count("*").alias("c"))
         .localCheckpoint())  # bounded: |types| x |value domain|
    n = h.groupBy("event_type").agg(F.sum("c").alias("n"))
    half = F.expr("(n + 1) div 2")
    wc = Window.partitionBy("event_type").orderBy("cents")
    med = (h.withColumn("cum", F.sum("c").over(wc))
           .join(F.broadcast(n), "event_type")
           .where(F.col("cum") >= half)
           .groupBy("event_type").agg(F.min("cents").alias("med_cents")))
    d = (h.join(F.broadcast(med), "event_type")
         .groupBy("event_type",
                  F.abs(F.col("cents") - F.col("med_cents")).alias("d"))
         .agg(F.sum("c").alias("c")))
    wd = Window.partitionBy("event_type").orderBy("d")
    mad = (d.withColumn("cum", F.sum("c").over(wd))
           .join(F.broadcast(n), "event_type")
           .where(F.col("cum") >= half)
           .groupBy("event_type").agg(F.min("d").alias("mad_cents")))
    return (n.join(med, "event_type").join(mad, "event_type")
            .select("event_type", "n", "med_cents", "mad_cents"))


@query(oracle="""
    WITH s AS (
      SELECT event_type, sum(value) AS sv,
             sum(value * value) AS sq, count(*) AS n
      FROM events GROUP BY event_type),
    st AS (SELECT event_type, sv / n AS mean,
                  sqrt(greatest(sq / n - (sv / n) * (sv / n), 0.0)) AS std
           FROM s)
    SELECT e.event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN abs(e.value - st.mean) > 3 * st.std
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN st USING (event_type)
    GROUP BY e.event_type""")
def q_event_outlier_counts(spark, sf_dir):
    """Per-group z-score anomaly screen (3-sigma rule) — the data-quality
    / monitoring shape: one groupBy derives each event_type's (sum,
    sum-of-squares, n); mean and population std come from those three
    numbers with the SAME arithmetic expression on both engines (plain
    group-by double sums match DuckDB bit-for-bit, unlike window
    cumsums — see daily_revenue_moving_avg), and the 5-row stats table
    broadcasts back onto the fact scan. Total cost at any scale: one
    map-side-combined aggregate + one broadcast-join pass; the fact
    table never shuffles. Fixture margin check: the closest |v-mean| to
    the 3*std boundary is 0.112, so a last-ulp sum difference can never
    flip a count."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value")
    stats = ev.groupBy("event_type").agg(
        F.sum("value").alias("sv"),
        F.sum(F.col("value") * F.col("value")).alias("sq"),
        F.count("*").alias("n"))
    mean = F.col("sv") / F.col("n")
    # greatest(.., 0.0): float cancellation can push the variance of a
    # (near-)constant group to ~-1e-18 — Spark's sqrt would yield NaN
    # while DuckDB ERRORS on sqrt(negative); the clamp is identity for
    # every healthy group and makes both engines agree on std=0
    var = F.greatest(F.col("sq") / F.col("n") - mean * mean, F.lit(0.0))
    stats = stats.select("event_type", mean.alias("mean"),
                         F.sqrt(var).alias("std"))
    return (ev.join(F.broadcast(stats), "event_type")
            .groupBy("event_type").agg(
                F.count("*").alias("n_events"),
                F.sum(F.when(F.abs(F.col("value") - F.col("mean"))
                             > 3 * F.col("std"), 1).otherwise(0))
                .cast("long").alias("n_outliers")))


AB_ARMS = 2  # deterministic hash-bucket experiment arms


@query(oracle_replace="CAST(rev_cents_control AS BIGINT) AS "
                      "rev_cents_control, CAST(rev_cents_treatment AS BIGINT) "
                      "AS rev_cents_treatment",
       oracle="""
    WITH pu AS (
      SELECT user_id,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(round(value * 100) AS BIGINT)
                           ELSE 0 END) AS HUGEINT) AS rev
      FROM events GROUP BY user_id),
    u AS (
      SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2 AS arm, rev
      FROM pu),
    m AS (
      SELECT
        sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)       AS n0,
        sum(CASE WHEN arm = 0 THEN rev ELSE 0 END)     AS s0,
        sum(CASE WHEN arm = 0 THEN rev * rev ELSE 0 END) AS ss0,
        sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)       AS n1,
        sum(CASE WHEN arm = 1 THEN rev ELSE 0 END)     AS s1,
        sum(CASE WHEN arm = 1 THEN rev * rev ELSE 0 END) AS ss1
      FROM u)
    SELECT
      CAST(n0 AS BIGINT) AS n_control,
      CAST(n1 AS BIGINT) AS n_treatment,
      s0 AS rev_cents_control,
      s1 AS rev_cents_treatment,
      (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
       - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) AS mean_diff_cents,
      (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
       - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))
      / sqrt(CAST(n1 * ss1 - s1 * s1 AS DOUBLE)
               / CAST(n1 * n1 * (n1 - 1) AS DOUBLE)
             + CAST(n0 * ss0 - s0 * s0 AS DOUBLE)
               / CAST(n0 * n0 * (n0 - 1) AS DOUBLE)) AS welch_t
    FROM m""")
def q_ab_experiment_report(spark, sf_dir):
    """A/B EXPERIMENT ANALYSIS — the experimentation-platform readout:
    users deterministically hash-bucketed into arms (md5 of user_id,
    the reproducible assignment every real platform uses — rand()
    would re-randomize under task retry and can't be re-derived at
    analysis time), per-arm user counts + revenue, and a Welch t
    statistic on revenue-per-user. Scale shape: the event corpus
    collapses to ONE per-user aggregate (map-side combined, user-keyed
    exchange — the only corpus shuffle), arm assignment is a pure
    expression on user_id (no assignment-table join), and the final
    conditional aggregate folds both arms into a single row with
    partial combine. Moments are EXACT: revenue in integer cents,
    sums/sums-of-squares in decimal(38,0) (a cents^2 term is ~1e14; a
    64-bit sumsq wraps within ~1e4 users), so the t statistic is the
    only float and both engines run the identical IEEE sequence
    (the lineitem_corr_matrix recipe). Variance via the exact-integer
    identity n*ss - s*s, Welch denominator v/n with v = that identity
    over n*(n-1))."""
    ev = _t(spark, sf_dir, "events")
    cents = F.when(F.col("event_type") == "purchase",
                   F.round(F.col("value") * 100).cast("long")) \
             .otherwise(F.lit(0))
    per_user = (ev.groupBy("user_id")
                .agg(F.sum(cents).cast("decimal(38,0)").alias("rev")))
    arm = (F.conv(F.substring(F.md5(F.col("user_id").cast("string")),
                              1, 8), 16, 10)
           .cast("long") % AB_ARMS).alias("arm")
    u = per_user.select(arm, "rev")
    t1 = F.col("arm") == 1

    def moments(flag, tag):
        return [
            F.sum(F.when(flag, 1).otherwise(0))
            .cast("decimal(38,0)").alias(f"n{tag}"),
            F.sum(F.when(flag, F.col("rev")).otherwise(F.lit(0)))
            .alias(f"s{tag}"),
            F.sum(F.when(flag, F.col("rev") * F.col("rev"))
                  .otherwise(F.lit(0))).alias(f"ss{tag}"),
        ]

    mom = u.agg(*(moments(~t1, "0") + moments(t1, "1")))

    def mean(tag):
        # cast BEFORE dividing: decimal/decimal rounds to 6 places in
        # Spark (DuckDB's hugeint division differs again) — double
        # division of exact integers is the cross-engine-stable form
        return (F.col(f"s{tag}").cast("double")
                / F.col(f"n{tag}").cast("double"))

    def var_over_n(tag):
        n = F.col(f"n{tag}")
        return ((n * F.col(f"ss{tag}") - F.col(f"s{tag}")
                 * F.col(f"s{tag}")).cast("double")
                / (n * n * (n - 1)).cast("double"))

    return mom.select(
        F.col("n0").cast("long").alias("n_control"),
        F.col("n1").cast("long").alias("n_treatment"),
        # decimal(38,0) is the ACCUMULATOR discipline (sumsq headroom);
        # the revenue totals themselves fit long at any real scale, and
        # long is the one integer type both engines render identically
        # in pandas (DuckDB HUGEINT -> float64 trips the driver hash)
        F.col("s0").cast("long").alias("rev_cents_control"),
        F.col("s1").cast("long").alias("rev_cents_treatment"),
        (mean("1") - mean("0")).alias("mean_diff_cents"),
        ((mean("1") - mean("0"))
         / F.sqrt(var_over_n("1") + var_over_n("0"))).alias("welch_t"))


@query(oracle="""
    WITH rev AS (
      SELECT l_partkey,
             sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT)) AS rev_cents
      FROM lineitem GROUP BY l_partkey),
    t AS (SELECT sum(rev_cents) AS total_cents FROM rev),
    r AS (
      SELECT l_partkey, rev_cents,
             sum(rev_cents) OVER (ORDER BY rev_cents DESC, l_partkey
                                  ROWS UNBOUNDED PRECEDING) AS cum_cents
      FROM rev)
    SELECT r.l_partkey,
           CAST(r.rev_cents AS BIGINT) AS rev_cents,
           CAST(r.cum_cents AS BIGINT) AS cum_cents,
           CASE WHEN r.cum_cents * 100 <= t.total_cents * 80 THEN 'A'
                WHEN r.cum_cents * 100 <= t.total_cents * 95 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM r CROSS JOIN t""")
def q_abc_parts_by_revenue(spark, sf_dir):
    """PARETO / ABC ANALYSIS (the BI inventory-classification class):
    parts ranked by revenue, classified A/B/C at 80% / 95% cumulative
    share. Scale discipline: the FACT table collapses to a part-keyed
    revenue aggregate first (map-side combined), and the ordered
    cumulative sum runs over that part-keyed aggregate with the
    BUCKETED rank decomposition (operators/bucketed_rank.py — the
    stable_row_ids machinery generalized to running sums): the part
    table's only exchange is hashpartitioning on the revenue bucket,
    each task cumsums ONE bucket, and the bucket's exclusive revenue
    offset comes from a <=64-row broadcast table — no single-reducer
    window even at 10^9 parts. The gate is float-free: revenue in
    integer cents, the running total an INTEGER cumsum (exact
    cross-engine, unlike float window sums — the daily_revenue
    lesson), and the class thresholds evaluated as integer
    cross-multiplications (cum*100 <= total*80) so no division ever
    happens. Ties ordered (rev desc, partkey) identically on both
    engines."""
    from datasketches_rust_spark.operators.bucketed_rank import (
        with_global_ranks)
    li = _t(spark, sf_dir, "lineitem")
    rev = (li.groupBy("l_partkey")
           .agg(F.sum(F.round(F.col("l_extendedprice")
                              * (1 - F.col("l_discount")) * 100)
                      .cast("long")).alias("rev_cents")))
    total = rev.agg(F.sum("rev_cents").alias("total_cents"))
    ranked = (with_global_ranks(rev, "rev_cents", ["l_partkey"],
                                ascending=False,
                                cum_cols={"cum_cents": "rev_cents"})
              .crossJoin(F.broadcast(total)))
    cls = (F.when(F.col("cum_cents") * 100
                  <= F.col("total_cents") * 80, "A")
           .when(F.col("cum_cents") * 100
                 <= F.col("total_cents") * 95, "B")
           .otherwise("C"))
    return ranked.select("l_partkey", "rev_cents", "cum_cents",
                         cls.alias("abc_class"))


@query(oracle="""
    WITH rows_ AS (
      SELECT o.o_orderkey, c.c_mktsegment AS segment,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
    seg AS (
      SELECT segment, sum(cents) AS seg_sum, count(*) AS seg_n
      FROM rows_ GROUP BY segment)
    SELECT r.o_orderkey, r.segment, r.cents,
           CASE WHEN s.seg_n > 1
                THEN CAST(s.seg_sum - r.cents AS DOUBLE)
                     / CAST(s.seg_n - 1 AS DOUBLE)
                END AS loo_mean_cents
    FROM rows_ r JOIN seg s USING (segment)""")
def q_mkt_target_encoding(spark, sf_dir):
    """LEAVE-ONE-OUT TARGET ENCODING (supervised categorical encoding,
    the ML-prep standard for high-cardinality categoricals): each
    order's market segment is replaced by the mean order value of the
    OTHER orders in that segment — excluding the row's own target is
    what makes the feature leakage-safe for training. Scale shape: the
    orders-to-customer join is the only corpus exchange (co-keyed on
    custkey); the per-segment sums/counts are a category-bounded
    aggregate that BROADCASTS back onto the corpus (no second
    shuffle), and the LOO value is a pure expression
    (seg_sum - own) / (seg_cnt - 1). Numerator/denominator stay exact
    integers; the final division of exact longs is the identical IEEE
    op on both engines (the ab_experiment_report recipe). Singleton
    categories yield NULL (den = 0) rather than a self-leaked value."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    rows = (o.join(c, F.col("o_custkey") == F.col("c_custkey"))
            .select("o_orderkey", F.col("c_mktsegment").alias("segment"),
                    cents.alias("cents")))
    seg = rows.groupBy("segment").agg(
        F.sum("cents").alias("seg_sum"), F.count("*").alias("seg_n"))
    num = F.col("seg_sum") - F.col("cents")
    den = F.col("seg_n") - 1
    return (rows.join(F.broadcast(seg), "segment")
            .select("o_orderkey", "segment", "cents",
                    F.when(den > 0, num.cast("double") / den.cast("double"))
                    .alias("loo_mean_cents")))


def _skew_oracle_sql() -> str:
    one = """
    SELECT '{key}' AS key_col,
           CAST(length(bin(cnt)) - 1 AS BIGINT) AS log2_bucket,
           count(*) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           min(cnt) AS min_rows_per_key,
           max(cnt) AS max_rows_per_key,
           CAST(sum(cnt) * 1000000 // total_rows AS BIGINT) AS share_ppm
    FROM (SELECT {key}, count(*) AS cnt FROM lineitem GROUP BY 1) pk
    CROSS JOIN (SELECT count(*) AS total_rows FROM lineitem) t
    GROUP BY 2, total_rows"""
    return " UNION ALL ".join(
        one.format(key=k)
        for k in ("l_orderkey", "l_partkey", "l_suppkey"))


@query(oracle=_skew_oracle_sql())
def q_join_key_skew_report(spark, sf_dir):
    """JOIN-KEY SKEW PROFILER (the ops diagnostic you run BEFORE a big
    join: "will this key distribution melt a reducer?"). Per-key row
    counts collapse the fact table (map-side combined — the only
    corpus exchange), then keys bucket by floor(log2(count)) into a
    doubling histogram: keys per bucket, rows per bucket, per-bucket
    min/max, and each bucket's share of total rows in integer PARTS
    PER MILLION (rows*1e6 div total — no float division, exact
    cross-engine). floor(log2) is computed EXACTLY as
    length(bin(cnt)) - 1 — bit-length arithmetic, immune to the
    float-log edge at exact powers of two where ln(2^k)/ln(2) can land
    a hair under k. The top buckets ARE the skew verdict: hot keys for
    the salting/AQE-skew machinery (operators/skew.py) live there."""
    li = _t(spark, sf_dir, "lineitem")

    def profile(key):
        per_key = li.groupBy(key).agg(F.count("*").alias("cnt"))
        total = per_key.agg(F.sum("cnt").alias("total_rows"))
        bucket = (F.length(F.bin(F.col("cnt"))) - 1).cast("long")
        return (per_key.select(bucket.alias("log2_bucket"), "cnt")
                .groupBy("log2_bucket")
                .agg(F.count("*").alias("n_keys"),
                     F.sum("cnt").alias("n_rows"),
                     F.min("cnt").alias("min_rows_per_key"),
                     F.max("cnt").alias("max_rows_per_key"))
                .crossJoin(F.broadcast(total))
                .select(F.lit(key).alias("key_col"), "log2_bucket",
                        "n_keys", "n_rows",
                        "min_rows_per_key", "max_rows_per_key",
                        F.expr("n_rows * 1000000 div total_rows")
                        .alias("share_ppm")))

    out = profile("l_orderkey")
    for key in ("l_partkey", "l_suppkey"):
        out = out.unionAll(profile(key))
    return out


@query(oracle="""
    WITH per AS (
      SELECT event_type,
             sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                      THEN 1 ELSE 0 END) AS na,
             sum(CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16'
                      THEN 0 ELSE 1 END) AS nb
      FROM events GROUP BY 1),
    tot AS (SELECT sum(na) AS ta, sum(nb) AS tb FROM per)
    SELECT event_type,
           CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
           CAST(na * 1000000 // ta AS BIGINT) AS share_a_ppm,
           CAST(nb * 1000000 // tb AS BIGINT) AS share_b_ppm,
           CASE WHEN na > 0 AND nb > 0 THEN
             (CAST(na AS DOUBLE) / CAST(ta AS DOUBLE)
              - CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE))
             * ln((CAST(na AS DOUBLE) / CAST(ta AS DOUBLE))
                  / (CAST(nb AS DOUBLE) / CAST(tb AS DOUBLE)))
           END AS psi_term
    FROM per CROSS JOIN tot""")
def q_event_type_drift_report(spark, sf_dir):
    """DATASET DRIFT MONITOR (PSI — population stability index, the
    ML-ops standard for "did the input distribution move between
    training and serving?"): the event-type mix of the first half of
    the month versus the second, one row per category with its PSI
    term (p_a - p_b) * ln(p_a / p_b). The float discipline: PSI is
    normally reported as a SUM over categories, but a float sum over a
    data-dependent aggregation order is not reproducible cross-engine
    — so the report emits the per-category TERMS as rows (each term is
    a pure expression of exact integer counts; the reader sums, or
    compares terms directly — a drilldown every real monitor wants
    anyway). Counts and ppm shares are integers; one conditional
    aggregate pass over the corpus (map-side combined, category-
    bounded output). Categories absent from either window yield a NULL
    term (PSI is undefined at zero mass; real monitors epsilon-floor
    it — the NULL surfaces the new/vanished category loudly instead)."""
    ev = _t(spark, sf_dir, "events")
    in_a = F.to_date("ts") < F.lit(DRIFT_SPLIT_DAY).cast("date")
    per = (ev.groupBy("event_type")
           .agg(F.sum(F.when(in_a, 1).otherwise(0)).alias("na"),
                F.sum(F.when(in_a, 0).otherwise(1)).alias("nb")))
    tot = per.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    j = per.crossJoin(F.broadcast(tot))
    pa = F.col("na").cast("double") / F.col("ta").cast("double")
    pb = F.col("nb").cast("double") / F.col("tb").cast("double")
    return j.select(
        "event_type", "na", "nb",
        F.expr("na * 1000000 div ta").alias("share_a_ppm"),
        F.expr("nb * 1000000 div tb").alias("share_b_ppm"),
        F.when((F.col("na") > 0) & (F.col("nb") > 0),
               (pa - pb) * F.log(pa / pb)).alias("psi_term"))


@query(oracle="""
    WITH d AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_f
      FROM orders),
    dec AS (
      SELECT is_f,
             CAST(ntile(10) OVER (ORDER BY cents, o_orderkey)
                  AS BIGINT) AS decile
      FROM d),
    per AS (
      SELECT decile, count(*) AS n_orders, sum(is_f) AS n_f
      FROM dec GROUP BY 1),
    tot AS (SELECT sum(n_f) AS tf FROM per)
    SELECT decile,
           n_orders, CAST(n_f AS BIGINT) AS n_f,
           CAST(n_f * 1000000 // n_orders AS BIGINT) AS rate_ppm,
           CAST(sum(n_f) OVER (ORDER BY decile DESC)
                * 1000000 // tf AS BIGINT) AS cum_capture_ppm
    FROM per CROSS JOIN tot""")
def q_order_value_lift_table(spark, sf_dir):
    """LIFT / GAINS TABLE (the model-eval readout behind every
    targeting decision: "if I act on the top decile, what fraction of
    the outcome do I capture?"): orders sliced into value deciles
    (exact positional ntile with the deterministic (cents, orderkey)
    tie order — the order_percentiles_daily contract), per-decile
    outcome rate (status 'F') in integer ppm, and top-down cumulative
    CAPTURE of all F-orders — the gains curve, an integer cumsum over
    the 10-row decile table ordered decile-descending. Lift =
    rate/base-rate stays a ratio of the two ppm integers the row
    already carries. The decile assignment is engine-ntile semantics
    reproduced from a BUCKETED global row_number (operators/
    bucketed_rank.py ntile_expr — true integer div arithmetic on
    (rn, n)): the corpus exchanges once on the value bucket instead of
    collapsing to one reducer for the ntile sort, so the plan holds at
    10^12 rows (positional deciles could also bin through the
    histogram-walk machinery; the exact-rank form keeps the oracle
    byte-identical)."""
    from datasketches_rust_spark.operators.bucketed_rank import (
        ntile_expr, with_global_ranks)
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    d = o.select("o_orderkey", cents.alias("cents"),
                 F.when(F.col("o_orderstatus") == "F", 1)
                 .otherwise(0).alias("is_f"))
    n1 = d.agg(F.count("*").alias("n"))
    dec = (with_global_ranks(d, "cents", ["o_orderkey"], rn_col="rn")
           .crossJoin(F.broadcast(n1))
           .select("is_f", ntile_expr("rn", "n", 10).alias("decile")))
    per = (dec.groupBy("decile")
           .agg(F.count("*").alias("n_orders"),
                F.sum("is_f").alias("n_f")))
    tot = per.agg(F.sum("n_f").alias("tf"))
    cum = (Window.orderBy(F.col("decile").desc())
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (per.crossJoin(F.broadcast(tot))
            .select("decile", "n_orders", "n_f",
                    F.expr("n_f * 1000000 div n_orders").alias("rate_ppm"),
                    F.sum("n_f").over(cum).alias("cum_f"),
                    F.expr("tf").alias("total_f"))
            .select("decile", "n_orders", "n_f", "rate_ppm",
                    F.expr("cum_f * 1000000 div total_f")
                    .alias("cum_capture_ppm")))


@query(oracle="""
    WITH per AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS BIGINT) AS digit,
             count(*) AS n
      FROM orders
      WHERE CAST(round(o_totalprice * 100) AS BIGINT) >= 1
      GROUP BY 1),
    tot AS (SELECT sum(n) AS t FROM per)
    SELECT digit, CAST(n AS BIGINT) AS n,
           CAST(n * 1000000 // t AS BIGINT) AS obs_ppm,
           CAST(floor(ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)
                      * 1000000.0) AS BIGINT) AS benford_ppm,
           (CAST(n AS DOUBLE)
            - ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)
              * CAST(t AS DOUBLE))
           * (CAST(n AS DOUBLE)
              - ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)
                * CAST(t AS DOUBLE))
           / (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)
              * CAST(t AS DOUBLE)) AS chi2_term
    FROM per CROSS JOIN tot
    WHERE digit >= 1""")
def q_benford_digit_report(spark, sf_dir):
    """DATA FORENSICS (Benford first-digit test — the fraud/synthetic-
    data screen auditors run on financial columns: natural multi-scale
    amounts follow P(d) = log10(1 + 1/d); fabricated or truncated data
    doesn't): first significant digit of each order's cents amount,
    observed count + integer ppm share per digit, expected ppm from
    the Benford law, and the per-digit chi-square term
    (obs - exp)^2 / exp as its own ROW (the drift-report discipline:
    no cross-row float sum, every term a pure expression of one row's
    exact integers + double literals both engines parse identically).
    First digit via substring of the decimal string of a positive
    integer — no float log10, no locale. One conditional aggregate,
    digit-bounded (9-row) output."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    d1 = F.substring(cents.cast("string"), 1, 1).cast("long")
    per = (o.select(d1.alias("digit"))
           .where(F.col("digit") >= 1)   # guard zero/negative amounts
           .groupBy("digit").agg(F.count("*").alias("n")))
    tot = per.agg(F.sum("n").alias("t"))
    j = per.crossJoin(F.broadcast(tot))
    # expected share: log10(1 + 1/d) = ln(1 + 1/d) / ln(10)
    p_exp = (F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double"))
             / F.log(F.lit(10.0)))
    exp_n = p_exp * F.col("t").cast("double")
    obs = F.col("n").cast("double")
    return j.select(
        "digit", "n",
        F.expr("n * 1000000 div t").alias("obs_ppm"),
        F.floor(p_exp * F.lit(1000000.0)).cast("long")
        .alias("benford_ppm"),
        ((obs - exp_n) * (obs - exp_n) / exp_n).alias("chi2_term"))


@query(oracle_replace="CAST(monetary_cents AS BIGINT) AS monetary_cents",
       oracle="""
    WITH per AS (
      SELECT o_custkey AS c_custkey,
             max(CAST(o_orderdate AS DATE)) AS last_day,
             count(*) AS frequency,
             sum(CAST(round(o_totalprice * 100) AS BIGINT))
               AS monetary_cents
      FROM orders GROUP BY 1),
    mx AS (SELECT max(last_day) AS max_day FROM per),
    base AS (
      SELECT c_custkey,
             CAST(datediff('day', last_day, max_day) AS BIGINT)
               AS recency_days,
             frequency, monetary_cents
      FROM per CROSS JOIN mx),
    scored AS (
      SELECT c_custkey, recency_days, frequency, monetary_cents,
             CAST(ntile(5) OVER (ORDER BY recency_days DESC, c_custkey)
                  AS BIGINT) AS r,
             CAST(ntile(5) OVER (ORDER BY frequency, c_custkey)
                  AS BIGINT) AS f,
             CAST(ntile(5) OVER (ORDER BY monetary_cents, c_custkey)
                  AS BIGINT) AS m
      FROM base)
    SELECT c_custkey, recency_days, CAST(frequency AS BIGINT) AS frequency,
           monetary_cents, r, f, m,
           CASE WHEN r >= 4 AND f >= 4 THEN 'champion'
                WHEN r >= 4 AND f <= 2 THEN 'new'
                WHEN r <= 2 AND f >= 4 THEN 'at_risk'
                WHEN r <= 2 AND f <= 2 THEN 'hibernating'
                ELSE 'core' END AS segment
    FROM scored""")
def q_customer_rfm_segments(spark, sf_dir):
    """RFM SEGMENTATION (recency / frequency / monetary — the classic
    CRM behavioral segmentation): per customer, days since last order
    (against the corpus max date, so the query is reproducible — "now"
    would not be), order count, and lifetime cents; each dimension
    quintile-scored 1-5 with EXACT positional ntile under a
    deterministic tie order (metric, custkey — the
    order_percentiles_daily contract; recency ntiles DESCENDING so
    5 = most recent, aligning all three scales as higher=better), then
    the standard segment names from the (r,f) cell. Scale shape: the
    orders corpus collapses to ONE customer-keyed aggregate (map-side
    combined); each quintile is engine-ntile semantics reproduced from
    a BUCKETED global row_number (operators/bucketed_rank.py — three
    bucket-keyed exchanges over the customer table instead of three
    single-reducer ntile sorts, so the plan holds at 10^9+ customers).
    All integers and strings — exact cross-engine."""
    from datasketches_rust_spark.operators.bucketed_rank import (
        ntile_expr, with_global_ranks)
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per = (o.groupBy("o_custkey")
           .agg(F.max(F.to_date("o_orderdate")).alias("last_day"),
                F.count("*").alias("frequency"),
                F.sum(cents).alias("monetary_cents")))
    mx = per.agg(F.max("last_day").alias("max_day"),
                 F.count("*").alias("n"))
    base = (per.crossJoin(F.broadcast(mx))
            .select(F.col("o_custkey").alias("c_custkey"),
                    F.datediff("max_day", "last_day").cast("long")
                    .alias("recency_days"),
                    "frequency", "monetary_cents", "n"))
    ranked = with_global_ranks(
        base, "recency_days", ["c_custkey"], ascending=False,
        rn_col="rn_r")
    ranked = with_global_ranks(
        ranked, "frequency", ["c_custkey"], rn_col="rn_f")
    ranked = with_global_ranks(
        ranked, "monetary_cents", ["c_custkey"], rn_col="rn_m")
    scored = ranked.select(
        "c_custkey", "recency_days", "frequency", "monetary_cents",
        ntile_expr("rn_r", "n", 5).alias("r"),
        ntile_expr("rn_f", "n", 5).alias("f"),
        ntile_expr("rn_m", "n", 5).alias("m"))
    seg = (F.when((F.col("r") >= 4) & (F.col("f") >= 4), "champion")
           .when((F.col("r") >= 4) & (F.col("f") <= 2), "new")
           .when((F.col("r") <= 2) & (F.col("f") >= 4), "at_risk")
           .when((F.col("r") <= 2) & (F.col("f") <= 2), "hibernating")
           .otherwise("core"))
    return scored.select("c_custkey", "recency_days", "frequency",
                         "monetary_cents", "r", "f", "m",
                         seg.alias("segment"))


@query(oracle_replace="CAST(cents AS BIGINT) AS cents", oracle="""
    WITH per_c AS (
      SELECT c.c_nationkey,
             sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1),
    per_n AS (
      SELECT n.n_nationkey, n.n_name, r.r_name, p.cents
      FROM per_c p
      JOIN nation n ON n.n_nationkey = p.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey)
    SELECT n_name, r_name, cents,
           CAST(sum(cents) OVER (PARTITION BY r_name) AS BIGINT)
             AS region_cents,
           CAST(cents * 1000000
                // sum(cents) OVER (PARTITION BY r_name) AS BIGINT)
             AS share_ppm,
           CAST(rank() OVER (PARTITION BY r_name
                             ORDER BY cents DESC, n_nationkey)
                AS BIGINT) AS rank_in_region
    FROM per_n""")
def q_nation_revenue_share(spark, sf_dir):
    """SNOWFLAKE DIMENSION CHAIN + RATIO-TO-REPORT (the BI "share of
    region" readout): revenue per nation through the
    customer -> nation -> region dimension chain, each nation's share
    of its REGION's total in integer ppm, and its rank within the
    region. Scale shape: the fact side collapses through the
    orders-customer co-keyed join, then the nation/region dimensions
    chain on as BROADCAST joins (classic snowflake — the dims are
    catalog-sized); the ratio-to-report denominator is a window sum
    over the nation-bounded aggregate (no second corpus pass), and
    share stays integer (cents * 1e6 div region_cents). Rank ties
    break on nationkey for cross-engine determinism."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per_c = (o.join(c, o["o_custkey"] == c["c_custkey"])
             .groupBy("c_nationkey").agg(F.sum(cents).alias("cents")))
    dims = (n.join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
            .select("n_nationkey", "n_name", "r_name"))
    per_n = (per_c.join(F.broadcast(dims),
                        per_c["c_nationkey"] == dims["n_nationkey"])
             .select("n_nationkey", "n_name", "r_name", "cents"))
    wreg = Window.partitionBy("r_name")
    wrank = (Window.partitionBy("r_name")
             .orderBy(F.col("cents").desc(), F.col("n_nationkey")))
    region_cents = F.sum("cents").over(wreg)
    return per_n.select(
        "n_name", "r_name", "cents",
        region_cents.alias("region_cents"),
        # integer div of longs: (cents * 1e6) div region_total — exact
        (F.col("cents") * F.lit(1000000)).alias("__num"),
        F.rank().over(wrank).cast("long").alias("rank_in_region")) \
        .select("n_name", "r_name", "cents", "region_cents",
                F.expr("__num div region_cents").alias("share_ppm"),
                "rank_in_region")


WINSOR_LO_PPM, WINSOR_HI_PPM = 50_000, 950_000  # p5 / p95


@query(window=48, oracle="""
    WITH d AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    ranked AS (
      SELECT o_orderkey, cents,
             row_number() OVER (ORDER BY cents, o_orderkey) AS rn
      FROM d),
    n1 AS (SELECT max(rn) AS n FROM ranked),
    cuts AS (
      SELECT min(cents) AS lo, max(cents) AS hi
      FROM ranked CROSS JOIN n1
      WHERE rn = (n - 1) * 50000 // 1000000 + 1
         OR rn = (n - 1) * 950000 // 1000000 + 1)
    SELECT d.o_orderkey, d.cents,
           greatest(least(d.cents, c.hi), c.lo) AS winsorized_cents,
           CASE WHEN d.cents < c.lo THEN 'low'
                WHEN d.cents > c.hi THEN 'high' END AS clipped
    FROM d CROSS JOIN cuts c""")
def q_winsorized_order_values(spark, sf_dir):
    """WINSORIZATION (robust preprocessing — cap the tails at p5/p95
    before a mean-sensitive model sees them; the ML-prep step next to
    price_decile_bins' binning and weekday_anomaly's robust location).
    The exact percentile convention is pinned to POSITION arithmetic
    both engines share: rank the orders by (cents, orderkey), take the
    value at rn = (n-1)*p div 1e6 + 1 (floored lower quantile — no
    interpolation, no engine quantile function with its own
    convention). The two cut values come from a rank filter on the
    window table and broadcast back as a 1-row cross join; the clamp
    is a pure expression. Output: order, raw cents, winsorized cents,
    and which side (if any) clipped — integers only. The rank table
    uses the BUCKETED row_number decomposition (operators/
    bucketed_rank.py): one bucket-keyed exchange, no single-reducer
    sort, so the exact-positional cuts hold at 10^12 rows (the
    histogram-walk machinery is the alternative convention;
    exact ranks keep the oracle byte-identical)."""
    from datasketches_rust_spark.operators.bucketed_rank import (
        with_global_ranks)
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    d = o.select("o_orderkey", cents.alias("cents"))
    ranked = with_global_ranks(d, "cents", ["o_orderkey"], rn_col="rn")
    n1 = d.agg(F.count("*").alias("n"))
    cuts = (ranked.crossJoin(F.broadcast(n1))
            .where((F.col("rn") == F.expr(
                f"(n - 1) * {WINSOR_LO_PPM} div 1000000 + 1"))
                | (F.col("rn") == F.expr(
                    f"(n - 1) * {WINSOR_HI_PPM} div 1000000 + 1")))
            .agg(F.min("cents").alias("lo"), F.max("cents").alias("hi")))
    return (d.crossJoin(F.broadcast(cuts))
            .select("o_orderkey", "cents",
                    F.greatest(F.least(F.col("cents"), F.col("hi")),
                               F.col("lo")).alias("winsorized_cents"),
                    F.when(F.col("cents") < F.col("lo"), F.lit("low"))
                    .when(F.col("cents") > F.col("hi"), F.lit("high"))
                    .alias("clipped")))


@query(oracle="""
    WITH rows_ AS (
      SELECT o.o_orderkey, c.c_mktsegment AS segment,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
    ranked AS (
      SELECT o_orderkey, segment, cents,
             row_number() OVER (PARTITION BY segment
                                ORDER BY cents, o_orderkey) AS rn
      FROM rows_),
    ng AS (SELECT segment, count(*) AS n_g FROM rows_ GROUP BY 1),
    gl AS (
      SELECT row_number() OVER (ORDER BY cents, o_orderkey) AS g,
             cents AS norm_cents
      FROM rows_),
    n1 AS (SELECT count(*) AS n_all FROM rows_),
    keyed AS (
      SELECT r.o_orderkey, r.segment, r.cents,
             CASE WHEN s.n_g > 1
                  THEN (r.rn - 1) * (t.n_all - 1) // (s.n_g - 1) + 1
                  ELSE (t.n_all + 1) // 2 END AS g
      FROM ranked r JOIN ng s USING (segment) CROSS JOIN n1 t)
    SELECT k.o_orderkey, k.segment, k.cents, gl.norm_cents
    FROM keyed k JOIN gl ON gl.g = k.g""")
def q_quantile_normalized_orders(spark, sf_dir):
    """QUANTILE NORMALIZATION (the batch-effect correction standard —
    map each group's value distribution onto the GLOBAL distribution
    so downstream models see comparable scales; genomics' quantile
    normalization, applied per market segment). Position arithmetic
    only, the winsorized_order_values discipline: each order's rank
    within its segment (rn of n_g, deterministic (cents, orderkey)
    ties) maps to the global order statistic at position
    (rn-1)*(N-1) div (n_g-1) + 1 — floored linear position mapping,
    no engine quantile function, no interpolation floats; a singleton
    group maps to the global lower median (N+1) div 2. Shape: two
    rank tables over the order table (segment-partitioned and global),
    BOTH on the bucketed row_number decomposition (operators/
    bucketed_rank.py — the segment side partitions its buckets WITHIN
    each segment: a 5-segment corpus would otherwise sort on 5
    reducers, the same serialization as the global window at 1/5
    scale), and one equi-join on the computed position — the only
    corpus exchanges are bucket-keyed, so the plan holds at 10^12
    rows (histogram-walk binning is the alternative convention; exact
    ranks keep the oracle byte-identical)."""
    from datasketches_rust_spark.operators.bucketed_rank import (
        with_global_ranks)
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    rows = (o.join(c, o["o_custkey"] == c["c_custkey"])
            .select("o_orderkey", F.col("c_mktsegment").alias("segment"),
                    cents.alias("cents")))
    ranked = with_global_ranks(rows, "cents", ["o_orderkey"],
                               partition_cols=("segment",), rn_col="rn")
    ng = rows.groupBy("segment").agg(F.count("*").alias("n_g"))
    gl = (with_global_ranks(rows, "cents", ["o_orderkey"], rn_col="g")
          .select("g", F.col("cents").alias("norm_cents")))
    n1 = rows.agg(F.count("*").alias("n_all"))
    pos = F.when(F.col("n_g") > 1,
                 F.expr("(rn - 1) * (n_all - 1) div (n_g - 1) + 1")) \
           .otherwise(F.expr("(n_all + 1) div 2"))
    keyed = (ranked.join(F.broadcast(ng), "segment")
             .crossJoin(F.broadcast(n1))
             .select("o_orderkey", "segment", "cents",
                     pos.alias("g")))
    return (keyed.join(gl, "g")
            .select("o_orderkey", "segment", "cents", "norm_cents"))


@query(oracle_replace="CAST(day AS VARCHAR) AS day", oracle="""
    WITH d AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(o_orderdate AS DATE) AS day,
             CAST(datediff('day', DATE '1992-01-01',
                           CAST(o_orderdate AS DATE)) AS BIGINT) AS di
      FROM orders),
    m AS (
      SELECT o_orderkey, cents, day, di,
             max(di) OVER (ORDER BY cents DESC
                           RANGE BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS best_later
      FROM d)
    SELECT o_orderkey, cents, day FROM m
    WHERE best_later IS NULL OR best_later <= di""")
def q_order_skyline(spark, sf_dir):
    """SKYLINE / PARETO FRONTIER (multi-criteria "best" rows — the
    classic skyline query: orders not strictly dominated on BOTH the
    value and recency axes; dominance = another order with strictly
    higher cents AND a strictly later date). The naive form is the
    O(n^2) dominance self-join; the 2D sorted-pass form is ONE window:
    ordered by cents, the running max of the day index over rows with
    STRICTLY higher cents (an integer RANGE frame ending 1 PRECEDING
    on the descending key — exact, no ties leak in) tells each row
    whether a higher-valued, later order exists. Integer cents and
    day indices keep it exact; equal-cents rows never dominate each
    other (strict on both axes), which the range frame encodes for
    free. The sweep runs BUCKETED (operators/bucketed_rank.py
    strict_prefix_max): the cross-bucket part is a strict prefix-max
    over the <=64-row per-bucket-max table and the within-bucket part
    is the same strict RANGE frame scoped to one bucket's partition —
    one bucket-keyed corpus exchange, no single-reducer sort, holds at
    10^12 rows (higher dimensions use the grid/partition skyline
    decomposition — the operators/spatial.py idea)."""
    from datasketches_rust_spark.operators.bucketed_rank import (
        strict_prefix_max)
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    d = o.select("o_orderkey", cents.alias("cents"),
                 F.to_date("o_orderdate").alias("day"),
                 F.datediff(F.to_date("o_orderdate"),
                            F.lit("1992-01-01")).cast("long").alias("di"))
    marked = strict_prefix_max(d, "cents", "di", "best_later")
    # dominated iff best_later > di STRICTLY — a same-day
    # higher-priced order does not dominate (strict on BOTH axes)
    return (marked.where(F.col("best_later").isNull()
                         | (F.col("best_later") <= F.col("di")))
            .select("o_orderkey", "cents", "day"))


@query(oracle="""
    WITH cells AS (
      SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority,
             count(*) AS n
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2),
    m AS (
      SELECT segment, priority, n,
             sum(n) OVER (PARTITION BY segment) AS n_row,
             sum(n) OVER (PARTITION BY priority) AS n_col,
             sum(n) OVER () AS n_all
      FROM cells)
    SELECT segment, priority, CAST(n AS BIGINT) AS n,
           CAST(n_row AS BIGINT) AS n_segment,
           CAST(n_col AS BIGINT) AS n_priority,
           CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE)
             / CAST(n_all AS DOUBLE) AS expected,
           (CAST(n AS DOUBLE)
            - CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE)
              / CAST(n_all AS DOUBLE))
           * (CAST(n AS DOUBLE)
              - CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE)
                / CAST(n_all AS DOUBLE))
           / (CAST(n_row AS DOUBLE) * CAST(n_col AS DOUBLE)
              / CAST(n_all AS DOUBLE)) AS chi2_term
    FROM m""")
def q_segment_priority_chi2(spark, sf_dir):
    """CHI-SQUARE INDEPENDENCE CROSS-TAB ("does market segment predict
    order priority?" — the categorical-association screen behind every
    feature-selection and bias audit): the segment x priority
    contingency table with each cell's observed count, the
    independence-expected count n_r*n_c/N, and the cell's chi-square
    term (obs-exp)^2/exp emitted as its own ROW (the drift/benford
    float discipline — the reader sums the cell-bounded table; a
    cross-row float total would depend on aggregation order). Exp is
    a double from three exact integers, so the floats hash
    cross-engine. One corpus pass to the cell counts (map-side
    combined, cell-bounded output); margins re-aggregate the tiny
    cell table and broadcast back via window sums."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cells = (o.join(c, o["o_custkey"] == c["c_custkey"])
             .groupBy(F.col("c_mktsegment").alias("segment"),
                      F.col("o_orderpriority").alias("priority"))
             .agg(F.count("*").alias("n")))
    wr = Window.partitionBy("segment")
    wc = Window.partitionBy("priority")
    wall = Window.partitionBy()
    m = cells.select(
        "segment", "priority", "n",
        F.sum("n").over(wr).alias("n_row"),
        F.sum("n").over(wc).alias("n_col"),
        F.sum("n").over(wall).alias("n_all"))
    exp = (F.col("n_row").cast("double") * F.col("n_col").cast("double")
           / F.col("n_all").cast("double"))
    obs = F.col("n").cast("double")
    return m.select("segment", "priority", "n",
                    F.col("n_row").alias("n_segment"),
                    F.col("n_col").alias("n_priority"),
                    exp.alias("expected"),
                    ((obs - exp) * (obs - exp) / exp).alias("chi2_term"))


CUPED_SPLIT_DAY = "2024-01-16"  # pre-period / experiment-period boundary


@query(oracle="""
    WITH per_user AS (
      SELECT user_id,
             sum(CASE WHEN event_type = 'purchase'
                       AND CAST(ts AS DATE) < DATE '2024-01-16'
                      THEN CAST(round(value * 100) AS BIGINT)
                      ELSE 0 END) AS x,
             sum(CASE WHEN event_type = 'purchase'
                       AND CAST(ts AS DATE) >= DATE '2024-01-16'
                      THEN CAST(round(value * 100) AS BIGINT)
                      ELSE 0 END) AS y
      FROM events GROUP BY 1),
    mom AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * x) AS sxx, sum(x * y) AS sxy
      FROM per_user),
    arms AS (
      SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2 AS arm,
             x, y
      FROM per_user),
    per_arm AS (
      SELECT arm, count(*) AS n_users,
             sum(x) AS sum_x_cents, sum(y) AS sum_y_cents
      FROM arms GROUP BY 1)
    SELECT a.arm, CAST(a.n_users AS BIGINT) AS n_users,
           CAST(a.sum_x_cents AS BIGINT) AS sum_x_cents,
           CAST(a.sum_y_cents AS BIGINT) AS sum_y_cents,
           CASE WHEN m.n * m.sxx - m.sx * m.sx > 0 THEN
             CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
             / CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE)
           END AS theta,
           CAST(a.sum_y_cents AS DOUBLE)
             / CAST(a.n_users AS DOUBLE) AS raw_mean_cents,
           (CAST(a.sum_y_cents AS DOUBLE)
            - coalesce(CASE WHEN m.n * m.sxx - m.sx * m.sx > 0 THEN
                CAST(m.n * m.sxy - m.sx * m.sy AS DOUBLE)
                / CAST(m.n * m.sxx - m.sx * m.sx AS DOUBLE) END, 0.0)
              * (CAST(a.sum_x_cents AS DOUBLE)
                 - CAST(a.n_users AS DOUBLE)
                   * (CAST(m.sx AS DOUBLE) / CAST(m.n AS DOUBLE))))
           / CAST(a.n_users AS DOUBLE) AS cuped_mean_cents
    FROM per_arm a CROSS JOIN mom m""")
def q_cuped_adjusted_metrics(spark, sf_dir):
    """CUPED VARIANCE REDUCTION (the experimentation-platform
    technique next to ab_experiment_report's Welch t: shrink metric
    variance with pre-period covariates so experiments need fewer
    users — y_adj = y - theta*(x - x_mean), theta = cov(x,y)/var(x)
    from the pooled data). All moments are EXACT: per-user pre-period
    (x) and experiment-period (y) revenue in integer cents from ONE
    conditional aggregate (the only corpus exchange), the pooled
    n/sx/sy/sxx/sxy in decimal(38,0), and theta/means become doubles
    only in the final per-arm expression — the identical IEEE
    sequence on both engines. Output per md5 arm: user count, raw
    mean of y, CUPED-adjusted mean, and the pooled theta — the
    readout an experimenter compares against the unadjusted report.
    Zero pre-period variance (no signal to regress on) yields
    theta NULL and adjusted = raw."""
    ev = _t(spark, sf_dir, "events")
    cents = F.when(F.col("event_type") == "purchase",
                   F.round(F.col("value") * 100).cast("long")) \
             .otherwise(F.lit(0))
    pre = F.to_date("ts") < F.lit(CUPED_SPLIT_DAY).cast("date")
    per_user = (ev.groupBy("user_id")
                .agg(F.sum(F.when(pre, cents).otherwise(F.lit(0)))
                     .alias("x"),
                     F.sum(F.when(pre, F.lit(0)).otherwise(cents))
                     .alias("y")))
    # summands cast to decimal BEFORE the sum (the brand_price_trends
    # note: cast-after-sum still accumulates in long and can wrap)
    d19 = "decimal(19,0)"
    xd, yd = F.col("x").cast(d19), F.col("y").cast(d19)
    mom = per_user.agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum(xd).alias("sx"),
        F.sum(yd).alias("sy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(xd * yd).alias("sxy"))
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    covxy = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    theta = F.when(varx > 0,
                   covxy.cast("double") / varx.cast("double"))
    xmean = F.col("sx").cast("double") / F.col("n").cast("double")
    arm = (F.conv(F.substring(F.md5(F.col("user_id").cast("string")),
                              1, 8), 16, 10)
           .cast("long") % AB_ARMS).alias("arm")
    # per-arm INTEGER sums only — a float sum of per-user adjusted
    # values would depend on aggregation order (not cross-engine
    # reproducible); the algebra folds instead:
    # sum(y_adj) = sum(y) - theta * (sum(x) - n*x_mean)
    per_arm = (per_user.select(arm, "x", "y")
               .groupBy("arm")
               .agg(F.count("*").alias("n_users"),
                    F.sum("x").alias("sum_x_cents"),
                    F.sum("y").alias("sum_y_cents")))
    nd = F.col("n_users").cast("double")
    adj_sum = (F.col("sum_y_cents").cast("double")
               - F.coalesce(theta, F.lit(0.0))
               * (F.col("sum_x_cents").cast("double") - nd * xmean))
    return (per_arm.crossJoin(F.broadcast(mom))
            .select("arm", "n_users", "sum_x_cents", "sum_y_cents",
                    theta.alias("theta"),
                    (F.col("sum_y_cents").cast("double") / nd)
                    .alias("raw_mean_cents"),
                    (adj_sum / nd).alias("cuped_mean_cents")))


KS_SEG_A, KS_SEG_B = "BUILDING", "MACHINERY"


@query(oracle="""
    WITH rows_ AS (
      SELECT c.c_mktsegment AS seg,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
    per_v AS (
      SELECT cents,
             sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS a,
             sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS b
      FROM rows_ GROUP BY 1),
    ecdf AS (
      SELECT cents,
             sum(a) OVER (ORDER BY cents) AS i,
             sum(b) OVER (ORDER BY cents) AS j
      FROM per_v),
    tot AS (
      SELECT sum(CASE WHEN seg = 'BUILDING' THEN 1 ELSE 0 END) AS n1,
             sum(CASE WHEN seg = 'MACHINERY' THEN 1 ELSE 0 END) AS n2
      FROM rows_),
    scored AS (
      SELECT t.n1, t.n2, e.cents,
             abs(e.i * t.n2 - e.j * t.n1) AS dnum
      FROM ecdf e CROSS JOIN tot t),
    mx AS (SELECT max(dnum) AS d FROM scored)
    SELECT CAST(s.n1 AS BIGINT) AS n1, CAST(s.n2 AS BIGINT) AS n2,
           CAST(m.d AS BIGINT) AS d_scaled,
           min(s.cents) AS ks_at_cents,
           CAST(m.d AS DOUBLE)
             / (CAST(s.n1 AS DOUBLE) * CAST(s.n2 AS DOUBLE)) AS ks_d
    FROM scored s JOIN mx m ON s.dnum = m.d
    GROUP BY s.n1, s.n2, m.d""")
def q_two_sample_ks(spark, sf_dir):
    """TWO-SAMPLE KOLMOGOROV-SMIRNOV (distribution-shift test between
    two segments' order values — the nonparametric "are these the
    same distribution?" screen behind covariate-shift checks). The
    statistic D = max |F1(v) - F2(v)| is EXACT INTEGER here: with
    sample sizes n1, n2 and running counts i, j at threshold v,
    D_scaled = max |i*n2 - j*n1| over the merged thresholds and
    D = D_scaled / (n1*n2) — cross-multiplication instead of float
    ECDFs, so the max and its location admit no rounding ambiguity
    (the first/lowest cents value achieving the max reported as the
    deterministic argmax). Shape: per-value counts per side (ONE
    map-side-combined groupBy), then the two integer cumsums over the
    distinct-threshold table run on the BUCKETED rank decomposition
    (operators/bucketed_rank.py — r3 ran them in an unpartitioned
    window, a single reducer once the value domain is unbounded and
    the distinct table corpus-sized; the bucketed form is EXACT, so
    no histogram-walk resolution bound is needed), one struct-max
    aggregate."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    rows = (o.join(c, o["o_custkey"] == c["c_custkey"])
            .where(F.col("c_mktsegment").isin(KS_SEG_A, KS_SEG_B))
            .select(F.col("c_mktsegment").alias("seg"),
                    cents.alias("cents")))
    from datasketches_rust_spark.operators.bucketed_rank import (
        with_global_ranks)
    per_v = (rows.groupBy("cents")
             .agg(F.sum(F.when(F.col("seg") == KS_SEG_A, 1)
                        .otherwise(0)).alias("a"),
                  F.sum(F.when(F.col("seg") == KS_SEG_B, 1)
                        .otherwise(0)).alias("b")))
    ecdf = (with_global_ranks(per_v, "cents", [],
                              cum_cols={"i": "a", "j": "b"})
            .select("cents", "i", "j"))
    tot = rows.agg(
        F.sum(F.when(F.col("seg") == KS_SEG_A, 1).otherwise(0))
        .alias("n1"),
        F.sum(F.when(F.col("seg") == KS_SEG_B, 1).otherwise(0))
        .alias("n2"))
    scored = (ecdf.crossJoin(F.broadcast(tot))
              .select("n1", "n2", "cents",
                      F.abs(F.col("i") * F.col("n2")
                            - F.col("j") * F.col("n1"))
                      .alias("dnum")))
    # struct-max picks (max dnum, then LOWEST cents) deterministically
    best = scored.agg(
        F.max("n1").alias("n1"), F.max("n2").alias("n2"),
        F.max(F.struct(F.col("dnum"), (-F.col("cents")).alias("nc")))
        .alias("m"))
    return best.select(
        "n1", "n2",
        F.col("m.dnum").alias("d_scaled"),
        (-F.col("m.nc")).alias("ks_at_cents"),
        (F.col("m.dnum").cast("double")
         / (F.col("n1").cast("double") * F.col("n2").cast("double")))
        .alias("ks_d"))


QQ_POINTS = tuple(range(5, 100, 5))  # p5 .. p95


@query(oracle="""
    WITH rows_ AS (
      SELECT c.c_mktsegment AS seg,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
             o.o_orderkey
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
    ranked AS (
      SELECT seg, cents,
             row_number() OVER (PARTITION BY seg
                                ORDER BY cents, o_orderkey) AS rn
      FROM rows_),
    ns AS (SELECT seg, count(*) AS n FROM rows_ GROUP BY 1),
    spine AS (
      SELECT CAST(u.p AS BIGINT) AS p, ns.seg,
             (ns.n - 1) * u.p // 100 + 1 AS rn
      FROM ns CROSS JOIN (SELECT unnest(range(5, 100, 5)) AS p) u),
    vals AS (
      SELECT s.p, s.seg, r.cents
      FROM spine s JOIN ranked r ON r.seg = s.seg AND r.rn = s.rn)
    SELECT a.p AS percentile, a.cents AS a_cents, b.cents AS b_cents,
           a.cents - b.cents AS delta_cents
    FROM (SELECT p, cents FROM vals WHERE seg = 'BUILDING') a
    JOIN (SELECT p, cents FROM vals WHERE seg = 'MACHINERY') b
      USING (p)""")
def q_segment_qq_table(spark, sf_dir):
    """QQ COMPARISON TABLE (matched quantiles of two segments' order
    values — the table behind a QQ plot, the visual companion of
    two_sample_ks's single-number verdict). Each percentile p in
    5..95 maps to BOTH segments' exact order statistic at position
    (n-1)*p div 100 + 1 (the winsorized_order_values position
    convention — no interpolation, no engine quantile function), so
    every cell is an integer and the per-row delta is exact. The
    percentile spine is a literal 19-row table that joins each
    segment's rank table on the computed position; the rank table uses
    the bucketed row_number decomposition PER SEGMENT (operators/
    bucketed_rank.py — a plain partitionBy(seg) window is 2 reducers
    sorting half the corpus each), so the only corpus exchange is
    (seg, bucket)-keyed and the plan holds at 10^12 rows."""
    from datasketches_rust_spark.operators.bucketed_rank import (
        with_global_ranks)
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    rows = (o.join(c, o["o_custkey"] == c["c_custkey"])
            .where(F.col("c_mktsegment").isin(KS_SEG_A, KS_SEG_B))
            .select(F.col("c_mktsegment").alias("seg"),
                    cents.alias("cents"), "o_orderkey"))
    ranked = (with_global_ranks(rows, "cents", ["o_orderkey"],
                                partition_cols=("seg",), rn_col="rn")
              .select("seg", "cents", "rn"))
    ns = rows.groupBy("seg").agg(F.count("*").alias("n"))
    spine = None
    for p in QQ_POINTS:
        r = F.lit(p)
        spine = (spine.unionAll(ns.select(r.alias("p"), "seg", "n"))
                 if spine is not None
                 else ns.select(r.alias("p"), "seg", "n"))
    keyed = spine.select(
        "p", "seg", F.expr("(n - 1) * p div 100 + 1").alias("rn"))
    vals = keyed.join(ranked, ["seg", "rn"])
    a = (vals.where(F.col("seg") == KS_SEG_A)
         .select("p", F.col("cents").alias("a_cents")))
    b = (vals.where(F.col("seg") == KS_SEG_B)
         .select("p", F.col("cents").alias("b_cents")))
    return (a.join(b, "p")
            .select(F.col("p").cast("long").alias("percentile"),
                    "a_cents", "b_cents",
                    (F.col("a_cents") - F.col("b_cents"))
                    .alias("delta_cents")))


@query(oracle="""
    WITH per_c AS (
      SELECT o_custkey,
             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS x
      FROM orders GROUP BY 1),
    ranked AS (
      SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i
      FROM per_c),
    agg_ AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(i * x) AS six
      FROM ranked)
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(sx AS BIGINT) AS total_cents,
           CAST(2 * six - (n + 1) * sx AS DOUBLE)
             / CAST(n * sx AS DOUBLE) AS gini
    FROM agg_""")
def q_gini_revenue_concentration(spark, sf_dir):
    """GINI COEFFICIENT (revenue-concentration inequality — the
    single-number "how dependent are we on few customers" readout
    next to abc_parts_by_revenue's cumulative classes; 0 = perfectly
    even, ->1 = one customer is the business). The exact rank
    formula over ascending-sorted customer revenues x_1..x_n:
      G = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x))
    keeps EVERYTHING integer until the final division — sum(i*x) in
    decimal(38,0) (rank x cents products; the brand_price_trends
    summand-cast discipline), so both engines hash the identical
    double. Revenue ties are rank-broken by custkey; the standard
    identity is tie-invariant in aggregate (equal x under adjacent
    ranks contribute the same total — the test pins it). Shape: the
    corpus collapses to one customer-keyed aggregate; the rank runs
    on the customer-bounded table with the bucketed row_number
    decomposition (operators/bucketed_rank.py — one bucket-keyed
    exchange, no single-reducer sort even at 10^9+ customers); output
    is one row: n, total_cents, gini."""
    from datasketches_rust_spark.operators.bucketed_rank import (
        with_global_ranks)
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per_c = (o.groupBy("o_custkey")
             .agg(F.sum(cents).alias("x")))
    ranked = (with_global_ranks(per_c, "x", ["o_custkey"], rn_col="i")
              .select("x", "i"))
    d19 = "decimal(19,0)"
    agg_ = ranked.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("i").cast(d19) * F.col("x").cast(d19)).alias("six"))
    num = (F.lit(2).cast("decimal(38,0)") * F.col("six")
           - (F.col("n") + 1).cast("decimal(38,0)")
           * F.col("sx").cast("decimal(38,0)"))
    den = (F.col("n").cast("decimal(38,0)")
           * F.col("sx").cast("decimal(38,0)"))
    return agg_.select(
        F.col("n").alias("n_customers"),
        F.col("sx").alias("total_cents"),
        (num.cast("double") / den.cast("double")).alias("gini"))


@query(window=28, oracle="""
    WITH rows_ AS (
      SELECT p.p_brand AS brand,
             CAST(round(p.p_retailprice * 100) AS BIGINT) AS price_cents,
             CAST(sum(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS w
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2),
    cum AS (
      SELECT brand, price_cents, w,
             CAST(sum(w) OVER (PARTITION BY brand
                               ORDER BY price_cents) AS BIGINT) AS cumw
      FROM rows_),
    tot AS (SELECT brand, CAST(sum(w) AS BIGINT) AS totw
            FROM rows_ GROUP BY 1)
    SELECT c.brand,
           CAST(min(c.price_cents) AS BIGINT) AS wmedian_cents,
           CAST(max(t.totw) AS BIGINT) AS total_qty
    FROM cum c JOIN tot t USING (brand)
    WHERE c.cumw * 2 >= t.totw
    GROUP BY 1""")
def q_weighted_median_price(spark, sf_dir):
    """WEIGHTED QUANTILES (per-brand weighted median of unit price,
    weighted by total quantity SOLD — the "typical price a unit
    actually trades at" readout, where the unweighted median answers a
    different question the moment volumes are skewed). Convention:
    lower weighted median = the smallest price whose cumulative weight
    reaches half the total, evaluated as the integer cross-product
    2*cumw >= totw (no division). Scale shape: the fact table
    collapses to one (brand, price, weight) aggregate (map-side
    combined); the cumulative weights run on the BUCKETED rank
    decomposition per brand (operators/bucketed_rank.py cum_cols —
    a partitionBy(brand) window is |brands| reducers sorting
    corpus-proportional value tables), and the median is a min over
    the threshold filter. Everything integer until the final
    cents->display division never happens (emitted in cents)."""
    from datasketches_rust_spark.operators.bucketed_rank import (
        with_global_ranks)
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cents = F.round(F.col("p_retailprice") * 100).cast("long")
    rows = (li.join(p, li["l_partkey"] == p["p_partkey"])
            .groupBy(F.col("p_brand").alias("brand"),
                     cents.alias("price_cents"))
            .agg(F.sum(F.col("l_quantity").cast("long")).alias("w")))
    cum = with_global_ranks(rows, "price_cents", [],
                            partition_cols=("brand",),
                            cum_cols={"cumw": "w"})
    tot = rows.groupBy("brand").agg(F.sum("w").alias("totw"))
    return (cum.join(tot, "brand")
            .where(F.col("cumw") * 2 >= F.col("totw"))
            .groupBy("brand")
            .agg(F.min("price_cents").alias("wmedian_cents"),
                 F.max("totw").alias("total_qty")))


@query(window=30, oracle="""
    WITH per_n AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2),
    shares AS (
      SELECT region,
             cents * 1000000 // sum(cents) OVER (PARTITION BY region)
               AS share_ppm
      FROM per_n)
    SELECT region, CAST(count(*) AS BIGINT) AS n_nations,
           CAST(sum(share_ppm * share_ppm) AS BIGINT) AS hhi_ppm2
    FROM shares GROUP BY 1""")
def q_region_hhi_concentration(spark, sf_dir):
    """HERFINDAHL-HIRSCHMAN INDEX per region (the antitrust/market-
    concentration scalar next to gini's inequality and ABC's bands:
    HHI = sum over nations of their squared revenue share; 1/n =
    perfect competition, 1.0 = monopoly). Shares are FLOORED integer
    ppm of the region total (the engine-agnostic floor-div discipline
    — a float share would hash but floor keeps the whole row integer
    until the final report), HHI emitted as the exact integer sum of
    squared ppm shares (max 1e12, comfortably long). One corpus
    collapse to (region, nation) cents through the snowflake broadcast
    chain (the nation_revenue_share shape), then a nation-bounded
    window sum and one aggregate."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    per_n = (o.join(c, o["o_custkey"] == c["c_custkey"])
             .groupBy(F.col("c_nationkey").alias("nk"))
             .agg(F.sum(cents).alias("cents"))
             .join(F.broadcast(n), F.col("nk") == n["n_nationkey"])
             .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
             .select(F.col("r_name").alias("region"),
                     F.col("n_name").alias("nation"), "cents"))
    shares = per_n.select(
        "region",
        F.expr("cents * 1000000 div sum(cents) over "
               "(partition by region)").alias("share_ppm"))
    return (shares.groupBy("region")
            .agg(F.count("*").alias("n_nations"),
                 F.sum(F.col("share_ppm") * F.col("share_ppm"))
                 .alias("hhi_ppm2")))


@query(window=31, oracle=f"""
    WITH rows_ AS (
      SELECT c.c_mktsegment AS seg,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      WHERE c.c_mktsegment IN ('{KS_SEG_A}', '{KS_SEG_B}')),
    per_v AS (
      SELECT cents,
             CAST(sum(CASE WHEN seg = '{KS_SEG_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(sum(CASE WHEN seg = '{KS_SEG_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS b
      FROM rows_ GROUP BY 1),
    ecdf AS (
      SELECT cents, a, b,
             CAST(sum(a) OVER (ORDER BY cents) AS BIGINT) AS i,
             CAST(sum(b) OVER (ORDER BY cents) AS BIGINT) AS j
      FROM per_v),
    tot AS (
      SELECT CAST(sum(CASE WHEN seg = '{KS_SEG_A}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n1,
             CAST(sum(CASE WHEN seg = '{KS_SEG_B}' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n2
      FROM rows_)
    SELECT t.n1, t.n2,
           CAST(sum((e.a + e.b)
                    * (e.i * t.n2 - e.j * t.n1)
                    * (e.i * t.n2 - e.j * t.n1)) AS VARCHAR)
             AS t_scaled
    FROM ecdf e CROSS JOIN tot t
    GROUP BY t.n1, t.n2""")
def q_two_sample_cvm(spark, sf_dir):
    """TWO-SAMPLE CRAMER-VON MISES (the INTEGRAL distribution-distance
    next to two_sample_ks's max: T aggregates the squared ECDF gap
    over every merged observation, so it sees distributed small shifts
    KS's single supremum misses). Exact-integer formulation over the
    same per-value count table as the KS query: with running counts
    i, j at each distinct value and n1, n2 totals, the scaled gap is
    g(v) = i*n2 - j*n1 and
      T_scaled = sum over VALUES of (a_v + b_v) * g(v)^2
    (each merged observation at value v contributes the same g —
    multiplicity (a+b) replaces per-row expansion), with
    T = T_scaled / (n1*n2*(n1+n2)^2 / ...) left to the reader: the
    gate carries T_scaled plus the exact integer normalization inputs,
    because the textbook normalization is a convention choice and any
    float division is one engine-shared expression away. g^2 sums in
    decimal(38,0) (g ~ n1*n2 ~ 2^24 here, g^2 ~ 2^48, times 10^4
    values — the summand-cast discipline). Cumsums run on the
    bucketed rank decomposition like the KS query."""
    from datasketches_rust_spark.operators.bucketed_rank import (
        with_global_ranks)
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    rows = (o.join(c, o["o_custkey"] == c["c_custkey"])
            .where(F.col("c_mktsegment").isin(KS_SEG_A, KS_SEG_B))
            .select(F.col("c_mktsegment").alias("seg"),
                    cents.alias("cents")))
    per_v = (rows.groupBy("cents")
             .agg(F.sum(F.when(F.col("seg") == KS_SEG_A, 1)
                        .otherwise(0)).alias("a"),
                  F.sum(F.when(F.col("seg") == KS_SEG_B, 1)
                        .otherwise(0)).alias("b")))
    ecdf = with_global_ranks(per_v, "cents", [],
                             cum_cols={"i": "a", "j": "b"})
    tot = rows.agg(
        F.sum(F.when(F.col("seg") == KS_SEG_A, 1).otherwise(0))
        .alias("n1"),
        F.sum(F.when(F.col("seg") == KS_SEG_B, 1).otherwise(0))
        .alias("n2"))
    g = F.col("i") * F.col("n2") - F.col("j") * F.col("n1")
    d19 = "decimal(19,0)"
    return (ecdf.crossJoin(F.broadcast(tot))
            .agg(F.max("n1").alias("n1"), F.max("n2").alias("n2"),
                 F.sum((F.col("a") + F.col("b")).cast(d19)
                       * (g * g).cast(d19)).cast("string")
                 .alias("t_scaled")))


@query(window=32, oracle="""
    WITH rows_ AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS pos
      FROM orders),
    per_v AS (
      SELECT cents, CAST(sum(pos) AS BIGINT) AS a,
             CAST(sum(1 - pos) AS BIGINT) AS b
      FROM rows_ GROUP BY 1),
    cum AS (
      SELECT cents, a, b,
             CAST(sum(a) OVER (ORDER BY cents) AS BIGINT) AS ci,
             CAST(sum(b) OVER (ORDER BY cents) AS BIGINT) AS cj
      FROM per_v),
    tot AS (SELECT CAST(sum(pos) AS BIGINT) AS n1,
                   CAST(sum(1 - pos) AS BIGINT) AS n2
            FROM rows_),
    agg_ AS (
      SELECT CAST(sum(a * (2 * ((ci - a) + (cj - b) + 1)
                           + (a + b) - 1)) AS HUGEINT) AS r2
      FROM cum)
    SELECT t.n1, t.n2,
           CAST(g.r2 - t.n1 * (t.n1 + 1) AS BIGINT) AS u2,
           CAST(g.r2 - t.n1 * (t.n1 + 1) AS DOUBLE)
             / CAST(2 * t.n1 * t.n2 AS DOUBLE) AS auc
    FROM agg_ g CROSS JOIN tot t""")
def q_mann_whitney_auc(spark, sf_dir):
    """MANN-WHITNEY U / AUC (the rank-sum test and the model-eval AUC
    are the same number: U / (n1*n2) = P(random positive outranks a
    random negative), here "does order value predict fulfilled
    status"). Exact integers throughout via the DOUBLED-rank trick:
    with ties, each value-group's members take the AVERAGE of the
    ranks they span — fractional at .5 — so the gate carries
    2*rank-sums: for a value v spanning global ranks
    [lo, lo+m-1], 2*avg_rank = 2*lo + m - 1, an integer. R2_pos =
    sum over values of a_v * (2*lo_v + m_v - 1), and
    2U = R2_pos - n1*(n1+1). AUC (with the standard tie-half-credit)
    = 2U / (2*n1*n2) — emitted as the exact integer pair (u2, n1, n2)
    plus the one float division both engines share. lo comes from the
    bucketed cumulative counts (lo = cum_before + 1), so there is no
    row-level rank table at all — the whole statistic folds off the
    value-bounded aggregate."""
    from datasketches_rust_spark.operators.bucketed_rank import (
        with_global_ranks)
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    rows = o.select(cents.alias("cents"),
                    F.when(F.col("o_orderstatus") == "F", 1)
                    .otherwise(0).alias("pos"))
    per_v = (rows.groupBy("cents")
             .agg(F.sum("pos").alias("a"),
                  F.sum(1 - F.col("pos")).alias("b")))
    cum = with_global_ranks(per_v, "cents", [],
                            cum_cols={"ci": "a", "cj": "b"})
    tot = rows.agg(F.sum("pos").alias("n1"),
                   F.sum(1 - F.col("pos")).alias("n2"))
    m = F.col("a") + F.col("b")
    lo = (F.col("ci") - F.col("a")) + (F.col("cj") - F.col("b")) + 1
    d19 = "decimal(19,0)"
    r2pos = F.sum(F.col("a").cast(d19)
                  * (2 * lo + m - 1).cast(d19))
    agg_ = (cum.agg(r2pos.alias("r2")).crossJoin(F.broadcast(tot)))
    u2 = (F.col("r2")
          - (F.col("n1").cast(d19)
             * (F.col("n1") + 1).cast(d19)).cast("decimal(38,0)"))
    return agg_.select(
        "n1", "n2",
        u2.cast("long").alias("u2"),
        (u2.cast("double")
         / (2 * F.col("n1") * F.col("n2")).cast("double"))
        .alias("auc"))


@query(oracle="""
    WITH per_u AS (
      SELECT event_type, user_id, count(*) AS c
      FROM events GROUP BY 1, 2),
    agg_ AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_users,
             CAST(sum(c) AS BIGINT) AS n_events,
             CAST(sum(c * c) AS BIGINT) AS sum_c2
      FROM per_u GROUP BY 1)
    SELECT event_type, n_users, n_events, sum_c2,
           CAST(n_events AS DOUBLE) / CAST(n_users AS DOUBLE)
             AS mean_per_user,
           (CAST(sum_c2 AS DOUBLE) / CAST(n_users AS DOUBLE)
            - (CAST(n_events AS DOUBLE) / CAST(n_users AS DOUBLE))
              * (CAST(n_events AS DOUBLE) / CAST(n_users AS DOUBLE)))
           / (CAST(n_events AS DOUBLE) / CAST(n_users AS DOUBLE))
             AS fano_index
    FROM agg_""")
def q_event_dispersion_by_type(spark, sf_dir):
    """DISPERSION (Fano) INDEX per event type — burstiness: is an
    event spread evenly across users (index < 1, under-dispersed) or
    concentrated in hot users (index > 1, the bot/power-user signal
    next to join_key_skew_report's key histogram)? Per type, the
    per-user count distribution's variance/mean off EXACT integer
    moments (n users, sum c, sum c^2 — counts are small integers, the
    long sums cannot wrap at any corpus size that fits a long row
    count); the index and mean are the shared-expression floats.
    Population variance convention (/n). Shape: two map-side-combined
    aggregates — (type, user) then type — nothing else."""
    ev = _t(spark, sf_dir, "events")
    per_u = (ev.groupBy("event_type", "user_id")
             .agg(F.count("*").alias("c")))
    agg_ = (per_u.groupBy("event_type")
            .agg(F.count("*").alias("n_users"),
                 F.sum("c").alias("n_events"),
                 F.sum(F.col("c") * F.col("c")).alias("sum_c2")))
    n = F.col("n_users").cast("double")
    mean = F.col("n_events").cast("double") / n
    var = F.col("sum_c2").cast("double") / n - mean * mean
    return agg_.select("event_type", "n_users", "n_events", "sum_c2",
                       mean.alias("mean_per_user"),
                       (var / mean).alias("fano_index"))
