"""Sketch query classes: each runs the engine's sketch aggregates (theta,
HLL, CPC, frequent items, Count-Min, t-digest, Bloom) over the TPC-H and
events tables, mostly in exact-mode configurations whose answers a SQL
oracle can check."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (DoubleType, LongType, StringType, StructField,
                               StructType)

from datasketches_rust_spark import agg
from datasketches_rust_spark.queries._common import (_local_frame,
                                                     _round_half_up, _t)
from datasketches_rust_spark.queries._registry import query


@query(window=3, oracle="""
        SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts
        FROM lineitem GROUP BY l_returnflag""")
def q_theta_distinct_parts_by_flag(spark, sf_dir):
    """Distinct parts per return flag, from exact-mode theta sketches."""
    li = _t(spark, sf_dir, "lineitem")
    sk = agg.sketch_agg(li, ["l_returnflag"], "l_partkey", "theta", lg_k=16)
    est = agg.estimate_udf("theta", as_long=True)
    return sk.select("l_returnflag", est("sketch").alias("distinct_parts"))


def _sketch(df: DataFrame, value_col: str, kind: str, **sketch_kw):
    """The global sketch of ``value_col`` on the driver: one Spark job
    (``agg.sketch_blob``)."""
    return agg.sketch_reader(kind)(
        agg.sketch_blob(df, value_col, kind, **sketch_kw))


def _long_result(spark: SparkSession, name: str, estimate: float
                 ) -> DataFrame:
    """One bigint column ``name``: ``estimate`` rounded as
    ``agg.estimate_udf(as_long=True)`` rounds it."""
    return _local_frame(spark, [(int(round(estimate)),)],
                        StructType([StructField(name, LongType())]))


def _theta_status_pair(spark, sf_dir):
    """Theta sketches of the customers with an open and with a fulfilled
    order, on the driver."""
    orders = _t(spark, sf_dir, "orders")
    return [_sketch(orders.where(F.col("o_orderstatus") == status),
                    "o_custkey", "theta", lg_k=16) for status in "OF"]


@query(window=4, oracle="""
        SELECT count(*) AS distinct_custkeys FROM (
          SELECT o_custkey AS k FROM orders
          UNION SELECT c_custkey FROM customer)""")
def q_theta_union_custkeys(spark, sf_dir):
    """Distinct customer keys of orders and customers: theta union."""
    a = _sketch(_t(spark, sf_dir, "orders"), "o_custkey", "theta", lg_k=16)
    b = _sketch(_t(spark, sf_dir, "customer"), "c_custkey", "theta",
                lg_k=16)
    return _long_result(spark, "distinct_custkeys", a.union(b).estimate())


@query(window=5, oracle="""
        SELECT count(*) AS custkeys_in_both FROM (
          SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
          INTERSECT
          SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')""")
def q_theta_intersect_custkeys(spark, sf_dir):
    """Customers with both an open and a fulfilled order: theta
    intersection."""
    a, b = _theta_status_pair(spark, sf_dir)
    return _long_result(spark, "custkeys_in_both", a.intersect(b).estimate())


@query(window=6, oracle="""
        SELECT count(*) AS custkeys_only_o FROM (
          SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O'
          EXCEPT
          SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F')""")
def q_theta_anotb_custkeys(spark, sf_dir):
    """Customers with an open but no fulfilled order: theta A-not-B."""
    a, b = _theta_status_pair(spark, sf_dir)
    return _long_result(spark, "custkeys_only_o", a.a_not_b(b).estimate())


@query(oracle="""
        WITH us AS (
          SELECT DISTINCT event_type, user_id FROM events
          WHERE value >= 95),
        types AS (SELECT DISTINCT event_type FROM us),
        p AS (SELECT a.event_type AS ta, b.event_type AS tb
              FROM types a JOIN types b ON a.event_type < b.event_type),
        inter AS (
          SELECT ta, tb, count(*) AS c
          FROM p JOIN us x ON x.event_type = ta
                 JOIN us y ON y.event_type = tb
                          AND x.user_id = y.user_id
          GROUP BY ta, tb),
        sizes AS (SELECT event_type, count(*) AS n FROM us GROUP BY 1)
        -- LEFT JOIN from p: the Spark side emits every type pair, with
        -- n_common=0 for disjoint sets — the oracle must agree even if a
        -- future fixture has a zero-overlap pair
        SELECT p.ta AS type_a, p.tb AS type_b,
               coalesce(i.c, 0) AS n_common,
               coalesce(i.c, 0) * 1.0
                 / (na.n + nb.n - coalesce(i.c, 0)) AS jaccard
        FROM p LEFT JOIN inter i ON i.ta = p.ta AND i.tb = p.tb
               JOIN sizes na ON na.event_type = p.ta
               JOIN sizes nb ON nb.event_type = p.tb""")
def q_theta_jaccard_event_types(spark, sf_dir):
    """Dataset-overlap analysis with the theta set algebra: the Jaccard
    similarity of high-value user sets between every event-type pair,
    computed ENTIRELY from 5 serialized sketches (intersection and
    union estimates per pair) — the sketch-native form of 'how much do
    these datasets overlap', needing one scan + one tiny sketch
    cross-pair instead of a user-level self-join. Exact mode (lg_k=16
    >> 150 users) makes it hash-matchable against exact SQL."""
    ev = _t(spark, sf_dir, "events").where(F.col("value") >= 95)
    sk = agg.sketch_agg(ev, ["event_type"], "user_id", "theta", lg_k=16)
    a = sk.select(F.col("event_type").alias("type_a"),
                  F.col("sketch").alias("sa"))
    b = sk.select(F.col("event_type").alias("type_b"),
                  F.col("sketch").alias("sb"))
    inter = agg.theta_set_op_udf("intersect", as_long=True)
    union = agg.theta_set_op_udf("union", as_long=True)
    return (a.join(b, F.col("type_a") < F.col("type_b"))
            .select("type_a", "type_b",
                    inter("sa", "sb").alias("n_common"),
                    (inter("sa", "sb").cast("double")
                     / union("sa", "sb")).alias("jaccard")))


def _approx_orders(spark, sf_dir, kind: str, lg_k: int) -> DataFrame:
    sk = _sketch(_t(spark, sf_dir, "lineitem"), "l_orderkey", kind,
                 lg_k=lg_k)
    return _local_frame(spark, [(_round_half_up(sk.estimate()),)],
                        StructType([StructField("approx_orders",
                                                DoubleType())]))


@query(gate="tests/test_golden_queries.py")
def q_hll_distinct_orders(spark, sf_dir):
    """HLL estimate — approximate, no SQL oracle (pytest tolerance)."""
    return _approx_orders(spark, sf_dir, "hll", 14)


@query(gate="tests/test_golden_queries.py")
def q_cpc_distinct_orders(spark, sf_dir):
    """CPC (FM85) estimate — approximate, merged partials use the ICON
    estimator (sketches/cpc.py; cpc/estimator.rs:91-97), so no SQL
    oracle; pytest tolerance bands in tests/test_cpc.py."""
    return _approx_orders(spark, sf_dir, "cpc", 12)


@query(window=8, oracle="""
        SELECT event_type AS item, count(*) AS est
        FROM events GROUP BY event_type
        ORDER BY est DESC, item LIMIT 5""")
def q_freq_top_event_types(spark, sf_dir):
    """The five most frequent event types, from a frequent-items sketch."""
    fs = _sketch(_t(spark, sf_dir, "events"), "event_type", "freqitems",
                 max_map_size=256)
    return _local_frame(
        spark, [(str(t[0]), int(t[1])) for t in fs.frequent_items()[:5]],
        StructType([StructField("item", StringType()),
                    StructField("est", LongType())]))


@query(window=9, oracle="""
        SELECT event_type AS item, count(*) AS est
        FROM events GROUP BY event_type""")
def q_countmin_event_counts(spark, sf_dir):
    """Count-Min estimates of every event type's count."""
    ev = _t(spark, sf_dir, "events")
    blob = agg.sketch_blob(ev, "event_type", "countmin",
                           num_hashes=5, num_buckets=8192)
    types = ev.select(F.col("event_type").alias("item")).distinct()
    cm_est = agg.countmin_estimate_udf(blob)
    return types.select("item", cm_est("item").alias("est"))


def _price_digest(spark, sf_dir):
    """The t-digest of lineitem prices on the driver, and whether it holds
    any price (an empty table answers SQL's nulls)."""
    td = _sketch(_t(spark, sf_dir, "lineitem"), "l_extendedprice",
                 "tdigest")
    return td, td.total_weight() > 0


@query(window=10, oracle="""
        SELECT min(l_extendedprice) AS min_price,
               max(l_extendedprice) AS max_price,
               count(l_extendedprice) AS n_prices
        FROM lineitem""")
def q_tdigest_price_stats(spark, sf_dir):
    """Min, max and count of extended prices from a t-digest."""
    td, some = _price_digest(spark, sf_dir)
    return _local_frame(
        spark, [(td.min_val if some else None, td.max_val if some else None,
                 int(td.total_weight()))],
        StructType([StructField("min_price", DoubleType()),
                    StructField("max_price", DoubleType()),
                    StructField("n_prices", LongType())]))


@query(gate="tests/test_global_sketch.py")
def q_tdigest_price_quantiles(spark, sf_dir):
    """Approximate quantiles — no SQL oracle (pytest tolerance)."""
    td, some = _price_digest(spark, sf_dir)
    return _local_frame(
        spark, [tuple(float(td.quantile(q)) if some else None
                      for q in (0.25, 0.50, 0.95))],
        StructType([StructField(c, DoubleType())
                    for c in ("q25", "q50", "q95")]))


@query(window=11, oracle="""
        SELECT count(DISTINCT l_partkey) AS n_parts
        FROM lineitem
        WHERE l_returnflag = 'R'
          AND l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 25)""")
def q_bloom_semijoin_parts(spark, sf_dir):
    """Bloom pre-filter + exact semi-join (FP kill) — the reference's
    'contains' use-case (bloom/sketch.rs:71-78) as a join strategy."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    dim = part.where(F.col("p_size") > 25)
    blob = agg.sketch_blob(dim, "p_partkey", "bloom",
                           num_bits=1 << 17, num_hashes=7)
    probe = agg.bloom_contains_udf(blob)
    # the probe is nondeterministic to the optimizer, so the semi-join's
    # null-key filter would stay above it: state it below for the scan
    filtered = (li.where((F.col("l_returnflag") == "R")
                         & F.col("l_partkey").isNotNull())
                .where(probe(F.col("l_partkey"))))
    exact = filtered.join(F.broadcast(dim),
                          filtered.l_partkey == dim.p_partkey, "left_semi")
    return exact.select(
        F.countDistinct("l_partkey").alias("n_parts"))


@query(gate="tests/test_global_sketch.py")
def q_bloom_stats(spark, sf_dir):
    """Bloom stats surface (bloom/sketch.rs:263-306): bits_used / load /
    estimated fpp for a filter over part keys. Deterministic given the
    fixed seed, but not SQL-expressible -> rows-only."""
    bf = _sketch(_t(spark, sf_dir, "part"), "p_partkey", "bloom",
                 num_bits=1 << 15, num_hashes=7)
    return _local_frame(
        spark, [(bf.bits_used(), bf.load_factor(), bf.estimated_fpp())],
        StructType([StructField("bits_used", LongType()),
                    StructField("load_factor", DoubleType()),
                    StructField("est_fpp", DoubleType())]))


@query(gate="tests/test_golden_queries.py")
def q_hll_users_by_type(spark, sf_dir):
    """Grouped HLL (per-event-type distinct users) — rows-only."""
    ev = _t(spark, sf_dir, "events")
    sk = agg.sketch_agg(ev, ["event_type"], "user_id", "hll", lg_k=12)
    est = agg.estimate_udf("hll")
    return sk.select("event_type", F.round(est("sketch"), 0).alias(
        "approx_users"))


@query(oracle="""
        WITH docs AS (
          SELECT doc_id,
                 string_split_regex(trim(lower(text)), '\\s+') AS toks
          FROM documents),
        gram_pos AS (
          SELECT doc_id, toks,
                 unnest(range(1, greatest(len(toks) - 3, 1) + 1)) AS i
          FROM docs),
        grams AS (
          SELECT DISTINCT doc_id,
                 array_to_string(toks[i:i+3], ' ') AS g
          FROM gram_pos),
        ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % 10 = 0)
        SELECT doc_id, count(DISTINCT g) AS n_contaminated
        FROM grams JOIN ev USING (g)
        WHERE doc_id % 10 <> 0
        GROUP BY doc_id""")
def q_contamination_check_bloom(spark, sf_dir):
    """The sketch-accelerated decontamination path: the eval 4-gram set
    becomes ONE bloom blob (vs broadcasting the full gram dim), the
    corpus side pre-filters its exploded grams through the probe, and
    the exact broadcast join runs only on the survivors to
    kill false positives. No false negatives (bloom/sketch.rs:71-78), so
    the result is IDENTICAL to contamination_check — same oracle SQL,
    hash-matched. At 100 TB this is the shape that matters: the bloom
    blob is KBs where the gram dim is GBs, and the probe prunes the
    corpus explode before any join machinery. The blob is collected to
    the driver and closed over by the probe, so it ships once per task
    rather than once per corpus gram."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    grams = F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 3, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 4))))
    ex = docs.select("doc_id", F.explode(grams).alias("g"))
    eval_grams = (ex.where(F.col("doc_id") % 10 == 0)
                  .select("g").distinct())
    blob = agg.sketch_blob(eval_grams, "g", "bloom",
                           num_bits=1 << 17, num_hashes=7)
    probe = agg.bloom_contains_udf(blob)
    survivors = (ex.where(F.col("doc_id") % 10 != 0)
                 .where(probe(F.col("g"))))
    return (survivors.join(F.broadcast(eval_grams), "g")
            .groupBy("doc_id")
            .agg(F.count_distinct("g").alias("n_contaminated")))


@query(oracle="""
        SELECT l_returnflag, count(DISTINCT l_partkey) AS distinct_parts
        FROM lineitem GROUP BY l_returnflag""")
def q_sql_api_theta_distinct(spark, sf_dir):
    """The spark.sql() API surface: sketch build + estimate registered as
    SQL functions (agg.register_sql_udfs) and used from a plain SQL
    string — theta in exact mode, so the estimate hash-matches
    COUNT(DISTINCT). The registered grouped-agg UDAF is the convenience
    form; the scale path stays agg.sketch_agg (see register_sql_udfs
    docstring)."""
    from datasketches_rust_spark.agg import register_sql_udfs
    register_sql_udfs(spark, lg_k=16)
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        "SELECT l_returnflag, "
        "theta_estimate_long(theta_sketch_agg(l_partkey)) AS distinct_parts "
        "FROM lineitem_v GROUP BY l_returnflag")


@query(window=7, oracle="""
        SELECT strftime(o_orderdate, '%Y-%m') AS month,
               count(DISTINCT CAST(o_orderdate AS DATE)) AS n_days,
               count(DISTINCT o_custkey) AS distinct_custs
        FROM orders GROUP BY 1""")
def q_theta_monthly_rollup(spark, sf_dir):
    """Sketch RE-AGGREGATION — the warehouse rollup pattern that is the
    reference sketches' signature property (theta unions are associative
    and lossless-in-exact-mode, theta/sketch.rs union semantics): build
    one theta partial PER DAY (the granularity a warehouse would
    persist as a blob column), then answer the month-level distinct
    question by MERGING the ~30 daily blobs per month — never
    re-touching the raw fact table. At 100 TB this is the whole point:
    the fact scan happens once at ingest, and any coarser rollup
    (month, quarter, arbitrary date range) is a merge over a few
    kilobyte-sized blobs instead of a full rescan + re-distinct. Scale
    shape: the per-day partial agg is one map-side mapInArrow pass, the
    month merge groups ~#days blob rows, and n_days comes from the
    SAME daily partial table (one tiny join of two day-level
    aggregates). lg_k=16 keeps every sketch in exact mode at fixture
    NDV, so the estimates hash-match the exact COUNT(DISTINCT) oracle."""
    orders = _t(spark, sf_dir, "orders")
    daily = agg.sketch_agg(
        orders.withColumn("day", F.col("o_orderdate").cast("date")),
        ["day"], "o_custkey", "theta", lg_k=16)
    daily = daily.withColumn("month", F.date_format("day", "yyyy-MM"))
    monthly = agg.merge_sketch_col(daily, ["month"], "theta")
    n_days = daily.groupBy("month").agg(F.count("*").alias("n_days"))
    est = agg.estimate_udf("theta", as_long=True)
    return (monthly.join(n_days, "month")
            .select("month", "n_days",
                    est("sketch").alias("distinct_custs")))


def _join_size_oracle_sql() -> str:
    one = """
    SELECT '{name}' AS join_name,
           (SELECT count(*) FROM {ta}) AS rows_a,
           (SELECT count(*) FROM {tb}) AS rows_b,
           (SELECT count(DISTINCT {ka}) FROM {ta}) AS distinct_a,
           (SELECT count(DISTINCT {kb}) FROM {tb}) AS distinct_b,
           (SELECT count(*) FROM
              (SELECT DISTINCT {ka} AS k FROM {ta}) x
              JOIN (SELECT DISTINCT {kb} AS k FROM {tb}) y USING (k))
             AS n_common,
           CAST((SELECT count(*) FROM
              (SELECT DISTINCT {ka} AS k FROM {ta}) x
              JOIN (SELECT DISTINCT {kb} AS k FROM {tb}) y USING (k))
              AS DOUBLE)
           * (CAST((SELECT count(*) FROM {ta}) AS DOUBLE)
              / CAST((SELECT count(DISTINCT {ka}) FROM {ta}) AS DOUBLE))
           * (CAST((SELECT count(*) FROM {tb}) AS DOUBLE)
              / CAST((SELECT count(DISTINCT {kb}) FROM {tb}) AS DOUBLE))
             AS est_rows,
           (SELECT count(*) FROM {ta} a JOIN {tb} b
              ON a.{ka} = b.{kb}) AS exact_rows"""
    specs = [
        ("orders_x_customer", "orders", "o_custkey",
         "customer", "c_custkey"),
        ("lineitem_x_part", "lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem_x_supplier", "lineitem", "l_suppkey",
         "supplier", "s_suppkey"),
    ]
    return " UNION ALL ".join(
        one.format(name=n, ta=ta, ka=ka, tb=tb, kb=kb)
        for n, ta, ka, tb, kb in specs)


@query(oracle=_join_size_oracle_sql())
def q_join_size_estimates(spark, sf_dir):
    """SKETCH-DRIVEN JOIN PLANNING (the query-optimizer application of
    the theta set algebra: estimate a join's output size from per-side
    key sketches BEFORE running it — what a CBO does with NDV stats,
    here with mergeable sketches that survive partition-parallel
    collection). Per candidate join: per-side row counts and distinct
    keys, the THETA-INTERSECTED common-key count, the independence
    estimate n_common * (rows_a/na) * (rows_b/nb), and the true join
    cardinality for calibration. Sketches are collected
    partition-parallel with map-side combine (the sketch_agg scale
    path — at 10^12 rows that is the entire point: one pass, bounded
    state, no count_distinct shuffle per side); at fixture scale the
    key universes sit below k=2^16 so theta is in EXACT mode and the
    gate hash-matches a COUNT(DISTINCT) oracle bit-for-bit. The
    estimate is a double expression over exact longs (identical IEEE
    sequence both engines). Cites the reference set algebra:
    theta/mod.rs intersection semantics."""
    specs = [
        ("orders_x_customer",
         _t(spark, sf_dir, "orders"), "o_custkey",
         _t(spark, sf_dir, "customer"), "c_custkey"),
        ("lineitem_x_part",
         _t(spark, sf_dir, "lineitem"), "l_partkey",
         _t(spark, sf_dir, "part"), "p_partkey"),
        ("lineitem_x_supplier",
         _t(spark, sf_dir, "lineitem"), "l_suppkey",
         _t(spark, sf_dir, "supplier"), "s_suppkey"),
    ]
    est = agg.estimate_udf("theta", as_long=True)
    inter = agg.theta_set_op_udf("intersect", as_long=True)
    out = None
    for name, la, ka, lb, kb in specs:
        ra = la.agg(F.count("*").alias("rows_a"))
        rb = lb.agg(F.count("*").alias("rows_b"))
        sa = (agg.sketch_agg(la, [], ka, "theta", lg_k=16)
              .select(F.col("sketch").alias("ska")))
        sb = (agg.sketch_agg(lb, [], kb, "theta", lg_k=16)
              .select(F.col("sketch").alias("skb")))
        tru = (la.join(lb, la[ka] == lb[kb])
               .agg(F.count("*").alias("exact_rows")))
        row = (ra.crossJoin(rb).crossJoin(sa).crossJoin(sb)
               .crossJoin(tru)
               .select(F.lit(name).alias("join_name"),
                       "rows_a", "rows_b",
                       est("ska").alias("distinct_a"),
                       est("skb").alias("distinct_b"),
                       inter("ska", "skb").alias("n_common"),
                       "exact_rows")
               .select("join_name", "rows_a", "rows_b",
                       "distinct_a", "distinct_b", "n_common",
                       (F.col("n_common").cast("double")
                        * (F.col("rows_a").cast("double")
                           / F.col("distinct_a").cast("double"))
                        * (F.col("rows_b").cast("double")
                           / F.col("distinct_b").cast("double")))
                       .alias("est_rows"), "exact_rows"))
        out = row if out is None else out.unionAll(row)
    return out
