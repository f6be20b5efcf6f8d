"""Relational query classes over the TPC-H and events tables: joins,
grouping sets, pivots, set operations and the relational operators
(range and spatial joins, skew salting, hierarchies, z-order). None
calls sketch, LSH, dedup or text-pipeline code.

The TPC-H classes are adapted where this fixture lacks a TPC-H column
(no l_shipmode, l_commitdate, partsupp, p_container or c_phone); each
adaptation keeps the query class, and its docstring names the
substitution."""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from datasketches_rust_spark.queries._common import _t
from datasketches_rust_spark.queries._registry import query


@query(window=1, oracle="""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               sum(l_extendedprice) AS sum_base_price,
               sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
               avg(l_quantity) AS avg_qty,
               avg(l_discount) AS avg_disc,
               count(*) AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus""")
def q_tpch_q1(spark, sf_dir):
    """TPC-H Q1 pricing summary per return flag and line status."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.sum("l_extendedprice").alias("sum_base_price"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
              ).alias("sum_disc_price"),
        F.avg("l_quantity").alias("avg_qty"),
        F.avg("l_discount").alias("avg_disc"),
        F.count("*").alias("count_order")))


@query(window=2, oracle="""
        WITH rev AS (
          SELECT l_suppkey,
                 sum(l_extendedprice * (1 - l_discount)) AS revenue,
                 count(*) AS n_items
          FROM lineitem GROUP BY l_suppkey)
        SELECT s_suppkey AS suppkey, s_name AS name, revenue, n_items,
               row_number() OVER (ORDER BY revenue DESC, s_suppkey) AS rnk
        FROM rev JOIN supplier ON l_suppkey = s_suppkey
        QUALIFY rnk <= 10""")
def q_top_suppliers_by_revenue(spark, sf_dir):
    """Join + agg + top-k with broadcast dim (supplier is tiny)."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    rev = (li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))
              ).alias("revenue"),
        F.count("*").alias("n_items")))
    return (rev.join(F.broadcast(sup), rev.l_suppkey == sup.s_suppkey)
            .select(F.col("s_suppkey").alias("suppkey"),
                    F.col("s_name").alias("name"),
                    F.col("revenue"), F.col("n_items"))
            .withColumn("rnk", F.row_number().over(
                Window.orderBy(F.desc("revenue"), F.col("suppkey"))))
            .where(F.col("rnk") <= 10))


K_ANON_K = 50  # k-anonymity threshold for the privacy report


@query(oracle_replace="CAST(n_rows AS BIGINT) AS n_rows, "
                      "CAST(rows_below_k AS BIGINT) AS rows_below_k",
       oracle="""
        WITH c AS (
          SELECT c_nationkey, c_mktsegment, c_acctbal >= 0 AS bal_pos
          FROM customer),
        cls AS (
          SELECT c_nationkey, c_mktsegment, bal_pos, count(*) AS n
          FROM c
          GROUP BY GROUPING SETS ((c_nationkey),
                                  (c_nationkey, c_mktsegment),
                                  (c_nationkey, c_mktsegment, bal_pos))),
        lv AS (
          SELECT CASE WHEN bal_pos IS NOT NULL THEN 3
                      WHEN c_mktsegment IS NOT NULL THEN 2
                      ELSE 1 END AS qi_level,
                 n
          FROM cls)
        SELECT qi_level, count(*) AS n_classes, min(n) AS min_class_size,
               sum(CASE WHEN n < 50 THEN n ELSE 0 END) AS rows_below_k,
               sum(n) AS n_rows
        FROM lv GROUP BY qi_level""")
def q_k_anonymity_report(spark, sf_dir):
    """K-ANONYMITY audit — the structured-privacy counterpart of the
    pii_redaction regex pass: how identifying is a quasi-identifier
    combination? Rows sharing the same QI tuple (here nationkey x
    mktsegment x acctbal-sign) form an equivalence class; a release is
    k-anonymous iff every class has >= k members. Reports, per QI
    attribute-combination size (the lattice level a generalization
    algorithm like Mondrian walks), the class count, min class size,
    and how many ROWS sit in classes below k — the re-identification
    exposure. Everything derives from ONE groupBy per lattice level on
    the grouping-sets Expand (a single customer scan), and each level's
    report is a few-row aggregate of the class-size table — class-size
    tables are QI-domain-bounded, so no stage ever carries the corpus
    past its first aggregate."""
    c = _t(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment",
        (F.col("c_acctbal") >= 0).alias("bal_pos"))
    classes = (c.groupingSets(
        [["c_nationkey"], ["c_nationkey", "c_mktsegment"],
         ["c_nationkey", "c_mktsegment", "bal_pos"]],
        "c_nationkey", "c_mktsegment", "bal_pos")
        .agg(F.count("*").alias("n")))
    level = (F.when(F.col("bal_pos").isNotNull(), 3)
             .when(F.col("c_mktsegment").isNotNull(), 2)
             .otherwise(1))
    return (classes.select(level.alias("qi_level"), "n")
            .groupBy("qi_level")
            .agg(F.count("*").alias("n_classes"),
                 F.min("n").alias("min_class_size"),
                 F.sum(F.when(F.col("n") < K_ANON_K, F.col("n"))
                       .otherwise(F.lit(0))).alias("rows_below_k"),
                 F.sum("n").alias("n_rows")))


@query(oracle="""
        SELECT event_type, count(*) AS n,
               avg(CAST(json_extract_string(props, '$.k') AS BIGINT))
                 AS avg_k,
               max(CAST(json_extract_string(props, '$.k') AS BIGINT))
                 AS max_k
        FROM events GROUP BY event_type""")
def q_props_json_stats(spark, sf_dir):
    """Semi-structured metadata filtering: extract a JSON field from the
    events props column and aggregate per event type. All JVM-side:
    GetJsonObject is a CodegenFallback expression (interpreted projection,
    no whole-stage codegen span) but the aggregate still does map-side
    partial combine and the scan prunes to (event_type, props). For a
    hot path where codegen matters, a regexp_extract over a known-shape
    field compiles; the JSON-path form is the general one."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n"),
                 F.avg("k").alias("avg_k"),
                 F.max("k").alias("max_k")))


@query(oracle="""
        SELECT user_id,
               sum(CASE WHEN event_type = 'click' THEN value END)
                 AS click_value,
               sum(CASE WHEN event_type = 'purchase' THEN value END)
                 AS purchase_value,
               sum(CASE WHEN event_type = 'view' THEN value END)
                 AS view_value
        FROM events GROUP BY user_id""")
def q_event_value_pivot(spark, sf_dir):
    """PIVOT operator class: per-user event values spread across typed
    columns. Pivot values passed explicitly so no extra distinct job
    runs, and the plan is a single partial-agg groupBy with conditional
    aggregates — exactly the CASE-WHEN formulation the oracle uses."""
    ev = _t(spark, sf_dir, "events")
    piv = (ev.groupBy("user_id")
           .pivot("event_type", ["click", "purchase", "view"])
           .sum("value"))
    return piv.select("user_id",
                      F.col("click").alias("click_value"),
                      F.col("purchase").alias("purchase_value"),
                      F.col("view").alias("view_value"))


@query(oracle="""
        WITH u AS (
          SELECT l_returnflag, 'quantity' AS measure, l_quantity AS v
          FROM lineitem
          UNION ALL
          SELECT l_returnflag, 'extendedprice', l_extendedprice
          FROM lineitem
          UNION ALL
          SELECT l_returnflag, 'discount', l_discount FROM lineitem
          UNION ALL
          SELECT l_returnflag, 'tax', l_tax FROM lineitem
        )
        SELECT l_returnflag, measure, sum(v) AS total, avg(v) AS mean,
               count(*) AS n
        FROM u GROUP BY l_returnflag, measure""")
def q_lineitem_measures_unpivot(spark, sf_dir):
    """UNPIVOT (melt) operator class — the inverse of event_value_pivot:
    the four lineitem measure columns melt into (measure, v) long form,
    then aggregate per (returnflag, measure) — the reshape every metrics
    pipeline runs before a generic per-measure report. The physical plan
    is ONE Expand pass (rows x 4, produced in the scan stage, below the
    aggregate's partial combine) + one grouped aggregate — no self-union
    of four scans like the naive SQL formulation."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").alias("quantity"),
        F.col("l_extendedprice").alias("extendedprice"),
        F.col("l_discount").alias("discount"),
        F.col("l_tax").alias("tax"))
    m = li.unpivot(["l_returnflag"],
                   ["quantity", "extendedprice", "discount", "tax"],
                   "measure", "v")
    return (m.groupBy("l_returnflag", "measure")
            .agg(F.sum("v").alias("total"),
                 F.avg("v").alias("mean"),
                 F.count("*").alias("n")))


@query(oracle="""
        WITH o AS (
          SELECT count(*) AS n,
                 sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS nk,
                 count(o_orderkey) - count(DISTINCT o_orderkey) AS dup
          FROM orders),
        orph AS (
          SELECT count(*) AS x FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
                            WHERE c.c_custkey = o.o_custkey)),
        l AS (
          SELECT count(*) AS n,
                 sum(CASE WHEN l_quantity <= 0 OR l_quantity > 50
                          THEN 1 ELSE 0 END) AS bq,
                 sum(CASE WHEN l_discount BETWEEN 0 AND 1
                          THEN 0 ELSE 1 END) AS bd
          FROM lineitem)
        SELECT 'null_custkey' AS check, 'orders' AS table_name,
               cast(nk AS BIGINT) AS n_bad, cast(n AS BIGINT) AS n_total
        FROM o
        UNION ALL
        SELECT 'pk_unique_orderkey', 'orders', cast(dup AS BIGINT),
               cast(n AS BIGINT) FROM o
        UNION ALL
        SELECT 'fk_orders_customer', 'orders', cast(x AS BIGINT),
               cast(n AS BIGINT) FROM orph, o
        UNION ALL
        SELECT 'quantity_in_(0,50]', 'lineitem', cast(bq AS BIGINT),
               cast(n AS BIGINT) FROM l
        UNION ALL
        SELECT 'discount_in_[0,1]', 'lineitem', cast(bd AS BIGINT),
               cast(n AS BIGINT) FROM l""")
def q_data_quality_report(spark, sf_dir):
    """Data-quality CONSTRAINT report (the deequ/dbt-test shape) — the
    validation pass a pipeline runs before trusting an input snapshot:
    null-key counts, primary-key uniqueness, referential integrity
    (orders -> customer orphans), and a domain-range check, emitted as
    one (check, table, n_bad, n_total) row each. Scale shape: every
    check is a scan + aggregate (null/range checks fold into ONE pass
    over each table; uniqueness is a count-vs-distinct delta, exact;
    the FK check is a left anti join on the key) — no row ever leaves
    an aggregate, so the report costs a few small exchanges regardless
    of table size."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")

    o_stats = orders.agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("long").alias("null_custkey"),
        (F.count("o_orderkey") - F.countDistinct("o_orderkey"))
        .alias("dup_pk"))
    orphans = (orders.join(cust,
                           orders["o_custkey"] == cust["c_custkey"],
                           "left_anti")
               .agg(F.count("*").alias("n_orphans")))
    li_stats = li.agg(
        F.count("*").alias("n"),
        F.sum(F.when((F.col("l_quantity") <= 0)
                     | (F.col("l_quantity") > 50), 1).otherwise(0))
        .cast("long").alias("bad_qty"),
        F.sum(F.when(F.col("l_discount").between(0, 1), 0).otherwise(1))
        .cast("long").alias("bad_disc"))

    def row(check, table, bad, total):
        return F.struct(F.lit(check).alias("check"),
                        F.lit(table).alias("table_name"),
                        bad.cast("long").alias("n_bad"),
                        total.cast("long").alias("n_total"))

    o = o_stats.crossJoin(orphans).select(F.explode(F.array(
        row("null_custkey", "orders", F.col("null_custkey"), F.col("n")),
        row("pk_unique_orderkey", "orders", F.col("dup_pk"), F.col("n")),
        row("fk_orders_customer", "orders", F.col("n_orphans"),
            F.col("n")))).alias("r"))
    l = li_stats.select(F.explode(F.array(
        row("quantity_in_(0,50]", "lineitem", F.col("bad_qty"),
            F.col("n")),
        row("discount_in_[0,1]", "lineitem", F.col("bad_disc"),
            F.col("n")))).alias("r"))
    return o.unionByName(l).select("r.check", "r.table_name", "r.n_bad",
                                   "r.n_total")


@query(oracle="""
        SELECT c_custkey, c_name, c_mktsegment
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT')""")
def q_customers_without_orders(spark, sf_dir):
    """ANTI JOIN operator class, first-class: customers with no URGENT
    order (the classic existence-check report — every customer has SOME
    order in the fixture, so the priority filter keeps the anti set
    non-empty: 203 rows at sf0.01, a meaningful gate instead of a
    vacuous 0-row match). Spark's left_anti is the built-in physical
    form — one hash exchange per side on the join key, no
    row-multiplication (output <= left side), the right side reduced to
    distinct keys during the build, and the priority filter pushed into
    the orders scan. The oracle is the equivalent NOT EXISTS."""
    cust = _t(spark, sf_dir, "customer")
    urgent = (_t(spark, sf_dir, "orders")
              .where(F.col("o_orderpriority") == "1-URGENT"))
    return (cust.join(urgent, cust["c_custkey"] == urgent["o_custkey"],
                      "left_anti")
            .select("c_custkey", "c_name", "c_mktsegment"))


@query(oracle_replace="CAST(revenue_cents AS BIGINT) AS revenue_cents, "
                      "strftime(o_orderdate, "
                      "'%Y-%m-%d %H:%M:%S') AS o_orderdate",
       oracle="""
        SELECT o_orderkey, o_orderdate,
               sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                   AS BIGINT)) AS revenue_cents
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1997-06-01'
          AND l_shipdate > TIMESTAMP '1997-06-01'
        GROUP BY o_orderkey, o_orderdate
        ORDER BY revenue_cents DESC, o_orderkey LIMIT 10""")
def q_tpch_q3_unshipped(spark, sf_dir):
    """Global top-k by aggregate (TPC-H Q3 shape): the 10 highest-value
    not-yet-shipped orders for one market segment — revenue of lineitems
    shipping AFTER the cutoff on orders placed BEFORE it. The physical
    property this query pins is the global ORDER BY ... LIMIT k: Spark
    must plan TakeOrderedAndProject (per-partition top-k heaps merged on
    the driver — O(k) memory per task) and NEVER a global sort of the
    aggregate (plan-audited; a single-partition Sort of every order is
    the classic accidental driver-melt at 100 TB). Both date filters
    push into the parquet scans so the orderkey join moves only the
    cutoff-straddling slice; customer joins as a hash join on custkey
    (NOT broadcast — at 10^9 customers the dim is fact-sized; the
    segment filter rides the scan). Revenue in integer cents, so the
    top-k ordering and the hash are float-free."""
    cutoff = F.lit("1997-06-01").cast("timestamp")
    cust = (_t(spark, sf_dir, "customer")
            .where(F.col("c_mktsegment") == "BUILDING")
            .select("c_custkey"))
    orders = (_t(spark, sf_dir, "orders")
              .where(F.col("o_orderdate") < cutoff)
              .select("o_orderkey", "o_custkey", "o_orderdate"))
    li = (_t(spark, sf_dir, "lineitem")
          .where(F.col("l_shipdate") > cutoff)
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    oc = (orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
          .select("o_orderkey", "o_orderdate"))
    return (li.join(oc, li["l_orderkey"] == oc["o_orderkey"])
            .groupBy("o_orderkey", "o_orderdate")
            .agg(F.sum(F.round(F.col("l_extendedprice")
                               * (1 - F.col("l_discount")) * 100)
                       .cast("long")).alias("revenue_cents"))
            .orderBy(F.desc("revenue_cents"), F.asc("o_orderkey"))
            .limit(10))


@query(oracle="""
        SELECT n_name AS nation,
               cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS revenue_cents,
               count(*) AS n_items
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name""")
def q_tpch_q5_local_supplier(spark, sf_dir):
    """Multi-way join operator class (TPC-H Q5 shape): revenue per nation
    from ASIA-region customers served by a supplier in their OWN nation,
    over one order year. This is the canonical star-ish 6-table plan and
    the query whose physical shape matters most at 100 TB: the ONLY big
    exchanges are the two fact joins (lineitem<->orders on orderkey,
    orders<->customer on custkey); region+nation collapse into a
    broadcast dim, supplier joins as a broadcast hash join carrying just
    (s_suppkey, s_nationkey, n_name), and the "local supplier" predicate
    c_nationkey = s_nationkey rides that broadcast join instead of
    forcing any extra shuffle. The one-year date filter is pushed into
    the orders parquet scan BEFORE the orderkey exchange (Catalyst
    PushedFilters), so the big join moves one year of orders, not seven.
    Revenue is emitted in integer CENTS (per-row round, then integer
    sum) so the cross-engine hash is exact regardless of float addition
    order; the oracle is the classic flat-WHERE form whose join order
    DuckDB's optimizer rediscovers."""
    li = _t(spark, sf_dir, "lineitem")
    orders = (_t(spark, sf_dir, "orders")
              .where((F.col("o_orderdate")
                      >= F.lit("1996-01-01").cast("timestamp"))
                     & (F.col("o_orderdate")
                        < F.lit("1997-01-01").cast("timestamp"))))
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    reg = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nat = _t(spark, sf_dir, "nation")
    sup = _t(spark, sf_dir, "supplier")
    dim = (nat.join(F.broadcast(reg),
                    nat["n_regionkey"] == reg["r_regionkey"])
           .select("n_nationkey", "n_name"))
    sup_d = (sup.join(F.broadcast(dim),
                      sup["s_nationkey"] == dim["n_nationkey"])
             .select("s_suppkey", "s_nationkey", "n_name"))
    o_c = (orders.join(cust, orders["o_custkey"] == cust["c_custkey"])
           .select("o_orderkey", "c_nationkey"))
    joined = (li.select("l_orderkey", "l_suppkey",
                        "l_extendedprice", "l_discount")
              .join(o_c, F.col("l_orderkey") == F.col("o_orderkey"))
              .join(F.broadcast(sup_d),
                    (F.col("l_suppkey") == F.col("s_suppkey"))
                    & (F.col("c_nationkey") == F.col("s_nationkey"))))
    return (joined.groupBy("n_name")
            .agg(F.sum(F.round(F.col("l_extendedprice")
                               * (1 - F.col("l_discount")) * 100)
                       .cast("long")).alias("revenue_cents"),
                 F.count("*").alias("n_items"))
            .select(F.col("n_name").alias("nation"),
                    "revenue_cents", "n_items"))


@query(oracle="""
        WITH pavg AS (
          SELECT l_partkey, avg(l_quantity) * 0.2 AS qlim
          FROM lineitem GROUP BY 1)
        SELECT cast(count(*) AS BIGINT) AS n_small,
               cast(sum(cast(round(l_extendedprice * 100) AS BIGINT))
                    AS BIGINT) AS rev_cents
        FROM lineitem l JOIN pavg p ON l.l_partkey = p.l_partkey
        WHERE l.l_quantity < p.qlim""")
def q_small_quantity_revenue(spark, sf_dir):
    """Correlated scalar subquery operator class (TPC-H Q17 shape):
    revenue from lineitems whose quantity is below 20% of THAT part's
    average quantity. The naive semantics re-run an aggregate per outer
    row; the scale shape is full decorrelation — ONE per-part aggregate
    (map-side combine collapses lineitem to |parts| rows), then an
    aggregate-to-fact equi-join on l_partkey where the fact side is
    pruned to 3 columns before the exchange. Quantities are
    integer-valued doubles, so the per-part avg is bit-identical across
    engines (exact integer partial sums / count) and the 0.2*avg
    threshold comparison is deterministic; revenue again in integer
    cents. A brand-filtered variant would broadcast the filtered part
    list into the lineitem scan first — unfiltered here to exercise the
    aggregate join at full fact cardinality."""
    li = _t(spark, sf_dir, "lineitem")
    pavg = (li.groupBy("l_partkey")
            .agg((F.avg("l_quantity") * F.lit(0.2)).alias("qlim")))
    return (li.select("l_partkey", "l_quantity", "l_extendedprice")
            .join(pavg, "l_partkey")
            .where(F.col("l_quantity") < F.col("qlim"))
            .agg(F.count("*").alias("n_small"),
                 F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                 .alias("rev_cents")))


@query(oracle="""
        SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
               count(*) AS n
        FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""")
def q_sales_rollup(spark, sf_dir):
    """Grouping-sets operator class: ROLLUP over (returnflag, linestatus)
    with subtotal and grand-total rows (null group keys) — one Expand +
    partial-agg pass, no per-level rescan."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.rollup("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"),
                 F.count("*").alias("n")))


SETOP_SPLIT_DATE = "1998-01-01"  # orders-date midpoint for the halves


@query(oracle="""
        WITH early AS (
          SELECT o_custkey FROM orders WHERE o_orderdate < '1998-01-01'),
        late AS (
          SELECT o_custkey FROM orders WHERE o_orderdate >= '1998-01-01')
        SELECT 'both' AS segment, o_custkey AS custkey
        FROM (SELECT o_custkey FROM early
              INTERSECT SELECT o_custkey FROM late)
        UNION ALL
        SELECT 'early_only' AS segment, o_custkey AS custkey
        FROM (SELECT o_custkey FROM early
              EXCEPT SELECT o_custkey FROM late)""")
def q_customer_order_set_ops(spark, sf_dir):
    """Row-level set algebra — INTERSECT / EXCEPT as Spark operators,
    the exact-row counterpart of the theta sketch set ops (which
    estimate these same cardinalities from merged sketch blobs):
    customers who ordered in BOTH halves of the date range, and those
    who ordered early but never again. Both set ops compile to
    distinct-aggregate + join plans with partial aggregation; keys are
    customer ids (bounded, uniform), so no skew story needed."""
    o = _t(spark, sf_dir, "orders")
    early = (o.where(F.col("o_orderdate") < SETOP_SPLIT_DATE)
             .select("o_custkey"))
    late = (o.where(F.col("o_orderdate") >= SETOP_SPLIT_DATE)
            .select("o_custkey"))
    both = early.intersect(late) \
        .select(F.lit("both").alias("segment"), "o_custkey")
    early_only = early.subtract(late) \
        .select(F.lit("early_only").alias("segment"), "o_custkey")
    return both.unionByName(early_only) \
        .select("segment", F.col("o_custkey").alias("custkey"))


@query(oracle="""
        SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
               avg(l_extendedprice) AS avg_price, count(*) AS n
        FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""")
def q_sales_cube(spark, sf_dir):
    """Grouping-sets operator class, CUBE variant: all 2^2 grouping sets
    over (returnflag, linestatus) — per-flag and per-status marginals
    plus the full cross and the grand total, still ONE Expand +
    partial-agg pass over a single scan (never 4 rescans). Completes the
    grouping-sets family next to ROLLUP's prefix hierarchy."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"),
                 F.avg("l_extendedprice").alias("avg_price"),
                 F.count("*").alias("n")))


@query(oracle="""
        SELECT o.o_orderkey, count(l.l_shipdate) AS n_shipped
        FROM orders o LEFT JOIN lineitem l
          ON l.l_shipdate >= o.o_orderdate
         AND l.l_shipdate < o.o_orderdate + INTERVAL 7 DAY
        GROUP BY o.o_orderkey""")
def q_range_join_shipments(spark, sf_dir):
    """Point-in-interval range join surfaced in the gate: for every
    order, how many lineitems (any order) shipped in the 7 days from its
    order date — no equi key, so vanilla Spark would BNL-join; the
    bucketed operator (operators/range_join.py) makes it one hash
    equi-join on the bucket id. LEFT semantics recovered by re-joining
    orders for the zero-match rows."""
    from datasketches_rust_spark.operators.range_join import (
        US_PER_DAY, point_interval_join)
    li = _t(spark, sf_dir, "lineitem").select("l_shipdate")
    orders = (_t(spark, sf_dir, "orders")
              .select("o_orderkey", "o_orderdate")
              .withColumn("o_end",
                          F.col("o_orderdate") + F.expr("INTERVAL 7 DAYS")))
    pairs = point_interval_join(li, orders, "l_shipdate",
                                "o_orderdate", "o_end",
                                bucket_us=7 * US_PER_DAY)
    counts = pairs.groupBy("o_orderkey").agg(F.count("*").alias("n_shipped"))
    return (orders.select("o_orderkey").join(counts, "o_orderkey", "left")
            .select("o_orderkey",
                    F.coalesce("n_shipped", F.lit(0))
                    .cast("long").alias("n_shipped")))


@query(oracle="""
        SELECT c.c_mktsegment AS segment, count(*) AS n_events,
               cast(sum(cast(round(e.value * 100) AS BIGINT)) AS BIGINT)
                 AS value_cents
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY 1 ORDER BY 1""")
def q_skew_salted_segment_value(spark, sf_dir):
    """Skew-aware salted join surfaced in the gate: enrich the events
    fact table with its user's market segment and aggregate event value
    per segment. operators/skew.py is the machinery — keys hotter than
    the threshold are spread over 8 salted reducer tasks (fact side
    salted by content hash, dim side replicated to all salts on hot
    keys only) while cold keys take the ordinary equi-join, and the two
    paths union. At the fixture the per-user event counts straddle the
    threshold, so BOTH paths carry rows and the union semantics are
    non-vacuous; the oracle is the plain flat join the salted plan must
    be indistinguishable from. Value carried in integer cents (per-row
    round, integer sum) so the aggregate hashes exactly cross-engine."""
    from datasketches_rust_spark.operators.skew import salted_join
    ev = (_t(spark, sf_dir, "events")
          .select("user_id",
                  F.round(F.col("value") * 100).cast("long")
                  .alias("v_cents")))
    cust = (_t(spark, sf_dir, "customer")
            .select("c_custkey", "c_mktsegment"))
    joined = salted_join(ev, cust, "user_id", "c_custkey",
                         salts=8, hot_threshold=60)
    return (joined.groupBy(F.col("c_mktsegment").alias("segment"))
            .agg(F.count("*").alias("n_events"),
                 F.sum("v_cents").alias("value_cents"))
            .orderBy("segment"))


@query(oracle="""
        SELECT o_orderpriority, count(*) AS n_orders
        FROM orders
        WHERE EXISTS (SELECT 1 FROM lineitem
                      WHERE l_orderkey = o_orderkey
                        AND l_returnflag = 'R')
        GROUP BY o_orderpriority""")
def q_orders_with_returns_semi(spark, sf_dir):
    """SEMI JOIN operator class, first-class (TPC-H Q4 shape): orders per
    priority that have AT LEAST ONE returned lineitem — the exact-row
    counterpart of the sketch-approximate ``bloom_semijoin_parts``.
    Spark's left_semi is the built-in physical form: the probe side
    (orders) emits each row at most once regardless of how many
    lineitems match, the build side carries ONLY the join key (the
    returnflag filter is pushed into the lineitem scan and every other
    lineitem column is pruned before the exchange), and no
    row-multiplication ever happens — where a naive join+distinct would
    first materialize orders x matching-lineitems. One hash exchange
    per side on the bigint orderkey; the oracle is the equivalent
    EXISTS."""
    orders = _t(spark, sf_dir, "orders")
    returned = (_t(spark, sf_dir, "lineitem")
                .where(F.col("l_returnflag") == "R")
                .select("l_orderkey"))
    return (orders
            .join(returned, orders["o_orderkey"] == returned["l_orderkey"],
                  "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders")))


@query(oracle="""
    WITH names AS (
      SELECT p_name, count(*) AS n_parts FROM part GROUP BY p_name)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
           a.n_parts AS n_a, b.n_parts AS n_b
    FROM names a JOIN names b
      ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
     AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 3""")
def q_fuzzy_part_name_pairs(spark, sf_dir):
    """Entity resolution by blocked fuzzy match — the catalog/record-
    linkage shape (Levenshtein edit distance <= 3 between product
    names). Scale discipline: a name column is a bounded VOCABULARY
    (10^6 distinct names under 10^12 catalog rows), so the corpus
    collapses to a (name, n_parts) aggregate FIRST (map-side combine;
    raw rows never join), and the quadratic Levenshtein term runs over
    that vocabulary table self-joined within first-character blocks —
    |block|^2 over distinct names, never over rows. Both the blocking
    key and the distance are JVM builtins (whole-stage codegen, no
    Python)."""
    names = (_t(spark, sf_dir, "part")
             .groupBy("p_name").agg(F.count("*").alias("n_parts"))
             .withColumn("blk", F.substring("p_name", 1, 1)))
    a, b = names.alias("a"), names.alias("b")
    return (a.join(b, (F.col("a.blk") == F.col("b.blk"))
                   & (F.col("a.p_name") < F.col("b.p_name")))
            .select(F.col("a.p_name").alias("name_a"),
                    F.col("b.p_name").alias("name_b"),
                    F.levenshtein("a.p_name", "b.p_name").alias("dist"),
                    F.col("a.n_parts").alias("n_a"),
                    F.col("b.n_parts").alias("n_b"))
            .where(F.col("dist") <= 3))


@query(oracle_replace="CAST(total_cents AS BIGINT) AS total_cents", oracle="""
    SELECT o_orderpriority, count(*) AS n_orders,
           sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS total_cents
    FROM orders o
    WHERE EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_returnflag = 'R')
      AND NOT EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_returnflag = 'N')
    GROUP BY o_orderpriority""")
def q_orders_settled_returns(spark, sf_dir):
    """COMBINED SEMI + ANTI join on the same fact table (TPC-H Q21's
    EXISTS ... AND NOT EXISTS pattern): orders with at least one
    RETURNED lineitem ('R') and NO still-pending lineitem ('N') — the
    'return fully settled' report, per priority. Spark plans the two
    correlated subqueries as one left_semi and one left_anti hash join;
    each build side is the flag-filtered orderkey column ONLY (filter
    pushed into the lineitem scan, every other column pruned), and the
    orders row is never multiplied — a naive join+distinct would
    materialize orders x matching-lineitems first."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    returned = (li.where(F.col("l_returnflag") == "R")
                .select("l_orderkey"))
    pending = (li.where(F.col("l_returnflag") == "N")
               .select("l_orderkey"))
    return (orders
            .join(returned, orders["o_orderkey"] == returned["l_orderkey"],
                  "left_semi")
            .join(pending, orders["o_orderkey"] == pending["l_orderkey"],
                  "left_anti")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders"),
                 F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
                 .alias("total_cents")))


@query(oracle="""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                AS BIGINT) AS total_cents
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderstatus), (o_orderpriority))""")
def q_sales_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS — the third grouping-sets shape next to
    ROLLUP (q_sales_rollup) and CUBE (q_sales_cube): a NON-hierarchical
    set list ((status, priority), (status), (priority)) that neither
    rollup nor cube expresses (no grand total, both one-dim margins).
    DataFrame.groupingSets (Spark 4) plans the same single Expand +
    partial-agg pass as rollup/cube — each input row replicates to the
    3 set shapes map-side, aggregation combines before the one
    exchange; a UNION ALL of 3 GROUP BYs would scan the fact table 3
    times. Money in integer cents (float sums are addition-order-
    sensitive cross-engine)."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    return (o.select("o_orderstatus", "o_orderpriority",
                     cents.alias("cents"))
            .groupingSets(
                [["o_orderstatus", "o_orderpriority"],
                 ["o_orderstatus"], ["o_orderpriority"]],
                "o_orderstatus", "o_orderpriority")
            .agg(F.count("*").alias("n_orders"),
                 F.sum("cents").alias("total_cents")))


ZORDER_FILE_BITS = 6  # top 6 OCCUPIED z-bits -> <=64 target files


# bit_length(zmax) - ZORDER_FILE_BITS as exact integer logic (a float
# log2 could land on either side of a power-of-two boundary)
_ZSHIFT_SQL = ("CASE "
               + " ".join(f"WHEN zmax >= {1 << i} THEN {i + 1 - 6}"
                          for i in range(31, 5, -1))
               + " ELSE 0 END")


# the same 16-bit interleave as sources/tables.zorder_value, written as
# an explicit 32-term bitwise SQL expression (all-integer, so the hash
# gate is exact)
_ZORDER_SQL = " | ".join(
    f"((((l_partkey & 65535) >> {i}) & 1) << {2 * i + 1}) | "
    f"((((l_suppkey & 65535) >> {i}) & 1) << {2 * i})"
    for i in range(16))


@query(oracle=f"""
    WITH z AS (
      SELECT l_partkey, l_suppkey, ({_ZORDER_SQL}) AS zv
      FROM lineitem),
    s AS (SELECT {_ZSHIFT_SQL} AS shift
          FROM (SELECT max(zv) AS zmax FROM z))
    SELECT zv >> (SELECT shift FROM s) AS file_id, count(*) AS n_rows,
           min(l_partkey) AS part_lo, max(l_partkey) AS part_hi,
           min(l_suppkey) AS supp_lo, max(l_suppkey) AS supp_hi
    FROM z GROUP BY 1""")
def q_zorder_layout_plan(spark, sf_dir):
    """Z-ORDER data-layout planning (Delta/Iceberg OPTIMIZE ZORDER BY):
    interleave (l_partkey, l_suppkey) into a 32-bit Morton key
    (sources/tables.zorder_value — pure shift/and JVM expressions),
    assign each row its target file (top ZORDER_FILE_BITS OCCUPIED
    z-bits -> <=64 files), and report the per-file ZONEMAP a reader
    would get: row count + min/max of BOTH keys. This is the
    layout-quality report one inspects before committing an OPTIMIZE:
    z-contiguous files cover small key-space rectangles, so the min/max
    spans shrink ~sqrt(files) in each dimension and point/range filters
    on either column prune most files. The shift is derived from
    max(z)'s bit length (one scalar-aggregate job over the pruned
    2-column scan — the same pre-pass any OPTIMIZE planner does to size
    output files), so the file count is ~64 at EVERY scale factor
    instead of collapsing to one file when the key domain is small.
    Main pass: one scan + one map-side-combined aggregate over <=64
    groups — the actual rewrite would be repartitionByRange(z) +
    sortWithinPartitions(z), one exchange. All-integer (bitwise) math,
    hash-matched against the same interleave written as a 32-term SQL
    expression."""
    from datasketches_rust_spark.sources.tables import zorder_value
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    z = zorder_value("l_partkey", "l_suppkey")
    zmax = li.agg(F.max(z)).collect()[0][0]
    shift = max(int(zmax).bit_length() - ZORDER_FILE_BITS, 0)
    return (li.withColumn(
        "file_id", F.shiftright(z, shift))
        .groupBy("file_id")
        .agg(F.count("*").alias("n_rows"),
             F.min("l_partkey").alias("part_lo"),
             F.max("l_partkey").alias("part_hi"),
             F.min("l_suppkey").alias("supp_lo"),
             F.max("l_suppkey").alias("supp_hi")))


@query(oracle="""
    WITH RECURSIVE anc AS (
      SELECT p_partkey AS node, p_partkey // 2 AS anc
      FROM part WHERE p_partkey > 1
      UNION
      SELECT a.node, a.anc // 2 FROM anc a WHERE a.anc > 1
    ),
    v AS (
      SELECT p_partkey AS node,
             CAST(round(p_retailprice * 100) AS BIGINT) AS cents
      FROM part),
    pairs AS (
      SELECT node, anc FROM anc
      UNION ALL
      SELECT node, node AS anc FROM v)
    SELECT p.anc,
           count(*) AS n_nodes,
           CAST(sum(v.cents) AS BIGINT) AS total_cents
    FROM pairs p JOIN v ON p.node = v.node
    GROUP BY p.anc""")
def q_part_hierarchy_rollup(spark, sf_dir):
    """HIERARCHICAL ROLLUP (the WITH RECURSIVE query class: BOM
    explosion, org-chart aggregation, category trees) — per node, the
    count and retail-value sum over its entire subtree. The hierarchy
    is derived deterministically from the part key (parent = key div 2,
    a balanced binary tree of depth ~log2 n) so both engines see the
    identical tree with no side table; the IMPLEMENTATION is the
    generic operators/hierarchy.py pointer-doubling closure — reach
    doubles per round, so the depth-11 sf0.01 tree closes in 4 joins
    and a depth-d real hierarchy in ceil(log2 d), each round one
    node-keyed exchange on the (node, anc) pair table (never corpus x
    corpus; closure size is nodes x depth, the honest output of
    ancestor enumeration — cf. connected_components for the O(log
    diameter) shortcutting this borrows). Oracle = WITH RECURSIVE
    walking anc div 2 — the SQL-native form of the same closure.
    Growth-exhaustion RAISES rather than returning truncated ancestor
    sets. Value sums in integer cents keep the gate float-free."""
    from datasketches_rust_spark.operators.hierarchy import tree_rollup

    part = _t(spark, sf_dir, "part")
    parents = (part.where(F.col("p_partkey") > 1)
               .select(F.col("p_partkey").alias("node"),
                       F.expr("p_partkey div 2").alias("parent")))
    values = part.select(
        F.col("p_partkey").alias("node"),
        F.round(F.col("p_retailprice") * 100).cast("long")
        .alias("value"))
    return (tree_rollup(parents, values)
            .select("anc", "n_nodes",
                    F.col("total").alias("total_cents")))


BASKET_MIN_SUPPORT = 2  # pair-count floor; mirrored in the oracle


@query(window=45, oracle="""
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    nb AS (SELECT count(DISTINCT l_orderkey) AS n_baskets FROM b),
    p AS (
      SELECT a.l_partkey AS pa, c.l_partkey AS pb, count(*) AS support
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2),
    m AS (SELECT l_partkey, count(*) AS cnt FROM b GROUP BY 1)
    SELECT pa, pb, support, ma.cnt AS ca, mb.cnt AS cb,
           CAST(support * n_baskets AS DOUBLE)
             / CAST(ma.cnt * mb.cnt AS DOUBLE) AS lift
    FROM p
    JOIN m ma ON p.pa = ma.l_partkey
    JOIN m mb ON p.pb = mb.l_partkey
    CROSS JOIN nb""")
def q_market_basket_pairs(spark, sf_dir):
    """MARKET-BASKET CO-OCCURRENCE (frequent pair mining / item-item
    collaborative filtering): part pairs purchased together in the
    same order, with support and lift. The pair generation is a
    self-join WITHIN the basket key (orderkey) — bounded by max basket
    size squared (TPC-H baskets are <=7 lines; a retail basket is
    <=10^2 — the blow-up is per-row constant, never corpus-squared),
    and both join sides are the SAME distinct (order, part) aggregate,
    so the corpus collapses before the join and AQE co-locates the two
    scans on one orderkey exchange. Support floor applied BEFORE the
    per-part-count joins (the Zipf tail is support-1 pairs — 97% of
    pairs at sf0.01), and the part-marginal table is part-bounded =>
    broadcast. Lift = support * n_baskets / (ca * cb): one division
    from exact integers, so the float hashes cross-engine. Hot-item
    note: a part in f% of baskets yields f*|baskets| pair rows — the
    groupBy handles it via partial combine; no single reducer sees a
    raw pair list."""
    li = _t(spark, sf_dir, "lineitem")
    baskets = li.select("l_orderkey", "l_partkey").distinct()
    n_baskets = baskets.select(
        F.count_distinct("l_orderkey").alias("n_baskets"))
    a, b = baskets.alias("a"), baskets.alias("b")
    pairs = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                    & (F.col("a.l_partkey") < F.col("b.l_partkey")))
             .groupBy(F.col("a.l_partkey").alias("pa"),
                      F.col("b.l_partkey").alias("pb"))
             .agg(F.count("*").alias("support"))
             .where(F.col("support") >= BASKET_MIN_SUPPORT))
    marg = baskets.groupBy("l_partkey").agg(
        F.count("*").alias("cnt"))
    return (pairs
            .join(F.broadcast(marg.select(F.col("l_partkey").alias("pa"),
                                          F.col("cnt").alias("ca"))), "pa")
            .join(F.broadcast(marg.select(F.col("l_partkey").alias("pb"),
                                          F.col("cnt").alias("cb"))), "pb")
            .crossJoin(F.broadcast(n_baskets))
            .select("pa", "pb", "support", "ca", "cb",
                    ((F.col("support") * F.col("n_baskets")).cast("double")
                     / (F.col("ca") * F.col("cb")).cast("double"))
                    .alias("lift")))


GEO_GRID = 1_000     # coordinate space [0, GEO_GRID)^2, md5-derived
GEO_R = 25           # neighbor radius; cell size == R -> 3x3 cells cover


@query(oracle="""
    WITH pts AS (
      SELECT c_custkey AS id,
             CAST(('0x' || substr(md5('gx:' || CAST(c_custkey AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 1000 AS gx,
             CAST(('0x' || substr(md5('gy:' || CAST(c_custkey AS VARCHAR)),
                                  1, 8)) AS BIGINT) % 1000 AS gy
      FROM customer)
    SELECT a.id AS c_custkey,
           count(*) AS n_within_r,
           CAST(min((a.gx - b.gx) * (a.gx - b.gx)
                    + (a.gy - b.gy) * (a.gy - b.gy)) AS BIGINT) AS min_dist2
    FROM pts a JOIN pts b
      ON a.id <> b.id
     AND (a.gx - b.gx) * (a.gx - b.gx)
         + (a.gy - b.gy) * (a.gy - b.gy) <= 625
    GROUP BY a.id""")
def q_geo_nearby_customers(spark, sf_dir):
    """SPATIAL GRID JOIN (distance self-join): customers at
    deterministic md5-derived integer coordinates; per customer, how
    many others lie within L2 distance R, plus the nearest one. The
    naive form is the all-pairs O(n^2) cross join; the scale shape is
    GRID BLOCKING (the geohash/S2-cell pattern): with cell size == R,
    every point within distance R of p lies in p's 3x3 cell
    neighborhood, so one side explodes to its 9 neighbor cells (a
    bounded x9 fanout of id+coords rows, ~24 bytes each) and the other
    stays at its home cell — an ordinary hash equi-join on the cell
    key, exact integer distance as the residual. This is the same
    candidates-then-verify architecture as the LSH dedup pipelines,
    with geometry supplying the pigeonhole guarantee instead of
    hashing. Hash-uniform coordinates cannot produce hot cells; REAL
    geodata can (cities) — there the cell key feeds the same hot-cap /
    AQE-skew machinery as operators/lsh.py. All-integer arithmetic
    (coords, squared distances) hashes exactly cross-engine; ties on
    min dist2 collapse via min, so no ordering ambiguity."""
    c = _t(spark, sf_dir, "customer")

    def coord(tag):
        return (F.conv(F.substring(
            F.md5(F.concat(F.lit(tag + ":"),
                           F.col("c_custkey").cast("string"))), 1, 8),
            16, 10).cast("long") % GEO_GRID)

    from datasketches_rust_spark.operators.spatial import (
        grid_neighbor_stats)
    pts = c.select("c_custkey",
                   coord("gx").alias("gx"), coord("gy").alias("gy"))
    return grid_neighbor_stats(pts, GEO_R, id_col="c_custkey")


Q18_QTY_THRESHOLD = 250  # ~1.4% of orders at sf0.01 (204 rows) — non-vacuous


@query(window=25,
       oracle_replace="CAST(o_orderdate AS VARCHAR) AS o_orderdate",
       oracle="""
    WITH big AS (
      SELECT l_orderkey,
             CAST(round(sum(l_quantity)) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY 1
      HAVING CAST(round(sum(l_quantity)) AS BIGINT) > 250)
    SELECT c.c_custkey, c.c_name, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_orderdate,
           CAST(round(o.o_totalprice * 100) AS BIGINT) AS totalprice_cents,
           b.total_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey""")
def q_tpch_q18_large_orders(spark, sf_dir):
    """TPC-H Q18 (large-volume customers) — the GROUP-HAVING SEMI-JOIN
    class: orders whose total line quantity exceeds a threshold,
    carried with their customer. The aggregate-filter runs FIRST
    (map-side-combined sum per orderkey, then the HAVING filter cuts
    ~99% of orders before any join) — pushing the having below the
    joins is the whole plan; the surviving keys then join orders and
    customer on their natural keys. At 100 TB the filtered set is
    still corpus-proportional (a fixed quantile of orders), so the
    joins stay shuffle equi-joins and AQE localizes them when the
    survivor set happens to be small. Quantities are whole-valued in
    the fixture, so round-to-long keeps the gate integer-exact; no
    LIMIT (classic Q18's top-100 with ties is nondeterministic under
    hash comparison) — the threshold alone bounds the result."""
    li = _t(spark, sf_dir, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(F.round(F.sum("l_quantity")).cast("long").alias("total_qty"))
           .where(F.col("total_qty") > Q18_QTY_THRESHOLD))
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (big.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
            .join(c, F.col("c_custkey") == F.col("o_custkey"))
            .select("c_custkey", "c_name", "o_orderkey",
                    F.to_date("o_orderdate").alias("o_orderdate"),
                    F.round(F.col("o_totalprice") * 100).cast("long")
                    .alias("totalprice_cents"),
                    "total_qty"))


FORGET_BUCKETS = 20  # md5 % 20 == 0 -> deterministic ~5% opt-out cohort


@query(oracle="""
    WITH forget AS (
      SELECT DISTINCT user_id AS k FROM events
      WHERE CAST(('0x' || substr(md5('forget:' || CAST(user_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) % 20 = 0),
    po AS (SELECT o_orderkey, o_custkey FROM orders
           WHERE o_custkey IN (SELECT k FROM forget))
    SELECT 'events' AS tbl, count(*) AS n_rows,
           count(DISTINCT user_id) AS n_keys
      FROM events WHERE user_id IN (SELECT k FROM forget)
    UNION ALL
    SELECT 'orders', count(*), count(DISTINCT o_custkey) FROM po
    UNION ALL
    SELECT 'lineitem', count(*), count(DISTINCT l_orderkey) FROM lineitem
      WHERE l_orderkey IN (SELECT o_orderkey FROM po)
    UNION ALL
    SELECT 'customer', count(*), count(DISTINCT c_custkey) FROM customer
      WHERE c_custkey IN (SELECT k FROM forget)""")
def q_forget_users_purge_plan(spark, sf_dir):
    """RIGHT-TO-BE-FORGOTTEN PURGE AUDIT (the compliance sweep every
    training-data pipeline needs before a rebuild): given an opted-out
    user cohort, report exactly what a cascade delete would remove
    from each table — events by user_id, orders by custkey, lineitem
    through the orders CASCADE (two hops: user -> order -> line), and
    the customer rows themselves. The cohort is md5-deterministic
    (re-derivable at audit time, same argument as ab_experiment_report
    arm assignment). Scale shape: both the cohort and the purged-order
    key set are corpus-PROPORTIONAL (5% of their dimensions), so
    neither carries a mandatory broadcast hint — a F.broadcast() here
    would force a driver collect of an unbounded relation at scale
    (hinted broadcasts never auto-demote); instead AQE localizes each
    semi-join to a broadcast when the build side is actually small
    (always at fixture scale) and keeps the ordinary shuffled
    semi-join beyond the threshold. Per-table counts union into a
    4-row audit report; all integers."""
    ev = _t(spark, sf_dir, "events")
    forget = (ev.select("user_id").distinct()
              .where((F.conv(F.substring(
                  F.md5(F.concat(F.lit("forget:"),
                                 F.col("user_id").cast("string"))), 1, 8),
                  16, 10).cast("long") % FORGET_BUCKETS) == 0)
              .select(F.col("user_id").alias("k")))
    fb = forget
    purged_ev = (ev.join(fb, ev["user_id"] == fb["k"], "left_semi")
                 .agg(F.count("*").alias("n_rows"),
                      F.count_distinct("user_id").alias("n_keys"))
                 .select(F.lit("events").alias("tbl"), "n_rows", "n_keys"))
    o = _t(spark, sf_dir, "orders")
    # po feeds BOTH the orders audit row and the lineitem cascade —
    # localCheckpoint materializes the semi-join once instead of
    # re-executing the orders scan + cohort derivation per branch
    po = (o.join(fb, o["o_custkey"] == fb["k"], "left_semi")
          .localCheckpoint(eager=False))
    purged_o = (po.agg(F.count("*").alias("n_rows"),
                       F.count_distinct("o_custkey").alias("n_keys"))
                .select(F.lit("orders").alias("tbl"), "n_rows", "n_keys"))
    li = _t(spark, sf_dir, "lineitem")
    pok = po.select(F.col("o_orderkey").alias("pk"))
    pli = li.join(pok, li["l_orderkey"] == pok["pk"], "left_semi")
    purged_li = (pli.agg(F.count("*").alias("n_rows"),
                         F.count_distinct("l_orderkey").alias("n_keys"))
                 .select(F.lit("lineitem").alias("tbl"), "n_rows",
                         "n_keys"))
    c = _t(spark, sf_dir, "customer")
    purged_c = (c.join(fb, c["c_custkey"] == fb["k"], "left_semi")
                .agg(F.count("*").alias("n_rows"),
                     F.count_distinct("c_custkey").alias("n_keys"))
                .select(F.lit("customer").alias("tbl"), "n_rows",
                        "n_keys"))
    return purged_ev.unionAll(purged_o).unionAll(purged_li) \
                    .unionAll(purged_c)


@query(oracle="""
    SELECT o.o_orderpriority, count(*) AS n_late_orders
    FROM orders o
    WHERE EXISTS (
      SELECT 1 FROM lineitem l
      WHERE l.l_orderkey = o.o_orderkey
        AND CAST(l.l_shipdate AS DATE)
            > CAST(o.o_orderdate AS DATE) + 60)
    GROUP BY 1""")
def q_tpch_q4_late_orders(spark, sf_dir):
    """TPC-H Q4 (order-priority checking) — the EXISTS-with-residual
    class: count orders per priority that have AT LEAST ONE late line
    (shipdate more than 60 days after the order date — adapted from
    Q4's commitdate predicate, which this fixture's lineitem lacks).
    The scale shape is the LEFT SEMI join on the natural key with the
    lateness predicate as the join residual — the corpus never
    duplicates (semi stops at first match per order, no distinct
    needed), both sides co-keyed on orderkey, then a tiny
    priority-bounded aggregate. Counts are integers."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    late = (F.to_date(F.col("l_shipdate"))
            > F.date_add(F.to_date(F.col("o_orderdate")), 60))
    return (o.join(li, (o["o_orderkey"] == li["l_orderkey"]) & late,
                   "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_late_orders")))


@query(oracle="""
    WITH rows_ AS (
      SELECT l.l_orderkey, l.l_linenumber,
             CAST(round(l.l_quantity) AS BIGINT) AS qty,
             CAST(round(o.o_totalprice * 100) AS BIGINT) AS total_cents
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey),
    based AS (
      SELECT l_orderkey, l_linenumber, qty, total_cents,
             (total_cents * qty)
               // sum(qty) OVER (PARTITION BY l_orderkey) AS base,
             (total_cents * qty)
               % sum(qty) OVER (PARTITION BY l_orderkey) AS rem
      FROM rows_),
    ranked AS (
      SELECT l_orderkey, l_linenumber, qty, base,
             total_cents
               - sum(base) OVER (PARTITION BY l_orderkey) AS leftover,
             row_number() OVER (PARTITION BY l_orderkey
                                ORDER BY rem DESC, l_linenumber) AS rk
      FROM based)
    SELECT l_orderkey, l_linenumber, qty,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                AS BIGINT) AS allocated_cents
    FROM ranked""")
def q_order_penny_allocation(spark, sf_dir):
    """PRORATION WITH LARGEST-REMAINDER ROUNDING (the financial
    allocation class: split an order's total cents across its line
    items proportionally to quantity so the allocations are integers
    that sum EXACTLY to the total — naive rounding leaks pennies, and
    leaked pennies fail audits). Pure integer arithmetic: each line's
    base share is (total_cents * qty) div total_qty, the order's
    leftover pennies (total - sum(base), always < n_lines) go to the
    lines with the LARGEST integer remainders, ties broken by line
    number — the largest-remainder / Hamilton method, fully
    deterministic. Shape: one orderkey-partitioned window pass
    (per-order groups are bounded by lines-per-order) — sums, ranks,
    and the +1 assignment all on the same partition key, so the only
    corpus exchange is the orderkey repartition. The invariant
    sum(allocated) == total per order is tested, not assumed."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    total = F.round(F.col("o_totalprice") * 100).cast("long")
    rows = (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .select("l_orderkey", "l_linenumber",
                    F.round("l_quantity").cast("long").alias("qty"),
                    total.alias("total_cents")))
    wo = Window.partitionBy("l_orderkey")
    den = F.sum("qty").over(wo)
    based = rows.select(
        "l_orderkey", "l_linenumber", "qty", "total_cents",
        F.expr("total_cents * qty").alias("num"),
        den.alias("den")) \
        .select("l_orderkey", "l_linenumber", "qty", "total_cents",
                F.expr("num div den").alias("base"),
                F.expr("num % den").alias("rem"))
    wrank = (Window.partitionBy("l_orderkey")
             .orderBy(F.col("rem").desc(), F.col("l_linenumber")))
    leftover = F.col("total_cents") - F.sum("base").over(wo)
    ranked = based.select(
        "l_orderkey", "l_linenumber", "qty", "base",
        leftover.alias("leftover"),
        F.row_number().over(wrank).cast("long").alias("rk"))
    return ranked.select(
        "l_orderkey", "l_linenumber", "qty",
        (F.col("base")
         + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
        .alias("allocated_cents"))


NEG_SAMPLE_DRAWS = 8   # md5 draws per user
NEG_SAMPLE_KEEP = 3    # negatives kept per user after the anti join


@query(oracle="""
    WITH bought AS (
      SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
    np_ AS (SELECT max(p_partkey) AS np FROM part),
    draws AS (
      SELECT c.c_custkey AS ck, t.np, CAST(u.i AS BIGINT) AS i
      FROM customer c CROSS JOIN np_ t
      CROSS JOIN (SELECT unnest(range(8)) AS i) u),
    cand AS (
      SELECT ck, i,
             CAST(('0x' || substr(md5('neg:' || CAST(ck AS VARCHAR)
                                       || ':' || CAST(i AS VARCHAR)),
                                  1, 12)) AS BIGINT) % np + 1 AS pk
      FROM draws),
    surv AS (
      SELECT c.ck, c.pk, min(c.i) AS i
      FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM bought b
                        WHERE b.ck = c.ck AND b.pk = c.pk)
      GROUP BY 1, 2),
    ranked AS (
      SELECT ck, pk, i,
             row_number() OVER (PARTITION BY ck ORDER BY i) AS rk
      FROM surv)
    SELECT ck AS c_custkey, CAST(rk AS BIGINT) AS neg_rank,
           pk AS p_partkey
    FROM ranked WHERE rk <= 3""")
def q_negative_samples(spark, sf_dir):
    """NEGATIVE SAMPLING (recommender/contrastive training prep: for
    each customer, deterministic pseudo-random parts they did NOT
    buy — the negatives a two-tower or BPR model trains against).
    Draws are md5-derived (reproducible at any later rebuild — the
    ab_experiment arm-assignment argument; rand() would re-randomize
    under task retry), candidate part ids land in the REAL part key
    space via mod, the customer's actual purchase set knocks out
    collisions (anti join on (custkey, partkey) against the distinct
    interaction set), and the first KEEP survivors per customer (by
    draw index — deterministic) become the sample. Shape: the draw
    table is users x DRAWS rows (explode of a literal range — no
    corpus explode); the interaction set is the only corpus-derived
    side (distinct orders x lineitem join, orderkey-co-keyed); the
    anti join keys are (custkey, partkey) — uniform, no skew. DRAWS
    > KEEP gives collision headroom; a user who bought everything
    (impossible here) would just yield fewer negatives."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    c = _t(spark, sf_dir, "customer")
    bought = (o.join(li, o["o_orderkey"] == li["l_orderkey"])
              .select(F.col("o_custkey").alias("ck"),
                      F.col("l_partkey").alias("pk")).distinct())
    np_ = p.agg(F.max("p_partkey").alias("np"))
    draws = (c.select(F.col("c_custkey").alias("ck"))
             .crossJoin(F.broadcast(np_))
             .select("ck", "np", F.explode(
                 F.array(*[F.lit(i) for i in range(NEG_SAMPLE_DRAWS)]))
                 .alias("i")))
    cand = draws.select(
        "ck", "i",
        (F.conv(F.substring(
            F.md5(F.concat(F.lit("neg:"), F.col("ck").cast("string"),
                           F.lit(":"), F.col("i").cast("string"))),
            1, 12), 16, 10).cast("long") % F.col("np") + 1).alias("pk"))
    surv = (cand.join(bought, ["ck", "pk"], "left_anti")
            # two draws can collide on the same part — one negative
            # per (user, part), keeping the earliest draw index
            .groupBy("ck", "pk").agg(F.min("i").alias("i")))
    wk = Window.partitionBy("ck").orderBy("i")
    return (surv.select("ck", "i", "pk",
                        F.row_number().over(wk).cast("long").alias("rk"))
            .where(F.col("rk") <= NEG_SAMPLE_KEEP)
            .select(F.col("ck").alias("c_custkey"),
                    F.col("rk").alias("neg_rank"),
                    F.col("pk").alias("p_partkey")))


@query(window=33, oracle="""
    SELECT l.l_returnflag AS flag,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT)
             AS high_priority_lines,
           CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT)
             AS low_priority_lines
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE year(CAST(l.l_shipdate AS DATE)) = 1996
    GROUP BY 1""")
def q_tpch_q12_priority_by_flag(spark, sf_dir):
    """TPC-H Q12 class (two-level conditional counts per routing
    dimension; l_returnflag stands in for the fixture's missing
    l_shipmode): per flag, how many lines belong to HIGH-priority
    orders (1-URGENT / 2-HIGH) vs lower, within a ship-date year.
    The shape is the co-keyed orders<->lineitem join feeding ONE
    conditional aggregate (map-side combined, flag-bounded output) —
    Q12's entire point is that the engine folds the CASE counts in a
    single pass instead of two filtered scans."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.where(F.year(F.to_date("l_shipdate")) == 1996)
            .join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy(F.col("l_returnflag").alias("flag"))
            .agg(F.sum(F.when(hi, 1).otherwise(0))
                 .alias("high_priority_lines"),
                 F.sum(F.when(hi, 0).otherwise(1))
                 .alias("low_priority_lines")))


@query(window=34, oracle="""
    WITH agg_ AS (
      SELECT CAST(sum(CASE WHEN p.p_type LIKE 'PROMO%'
                      THEN CAST(round(l.l_extendedprice
                                      * (1 - l.l_discount) * 100)
                           AS BIGINT) ELSE 0 END) AS BIGINT)
               AS promo_cents,
             CAST(sum(CAST(round(l.l_extendedprice
                                 * (1 - l.l_discount) * 100)
                      AS BIGINT)) AS BIGINT) AS total_cents
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      WHERE year(CAST(l.l_shipdate AS DATE)) = 1995
        AND month(CAST(l.l_shipdate AS DATE)) = 9)
    SELECT promo_cents, total_cents,
           promo_cents * 1000000 // total_cents AS promo_share_ppm
    FROM agg_""")
def q_tpch_q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14 (promotion-effect ratio): share of one month's
    discounted revenue coming from PROMO-type parts. The part
    dimension BROADCASTS into the fact scan (catalog-sized build
    side); both numerator and denominator come from the same single
    conditional aggregate over integer cents, and the share is one
    floored integer division (promo_cents * 1e6 div total) — Q14's
    100*sum(case)/sum() with the engine-divergent float ratio
    replaced by the ppm discipline."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cents = F.round(F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100).cast("long")
    promo = F.col("p_type").startswith("PROMO")
    month = (F.year(F.to_date("l_shipdate")) == 1995) & \
        (F.month(F.to_date("l_shipdate")) == 9)
    agg_ = (li.where(month)
            .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
            .agg(F.sum(F.when(promo, cents).otherwise(0))
                 .alias("promo_cents"),
                 F.sum(cents).alias("total_cents")))
    return agg_.select(
        "promo_cents", "total_cents",
        F.expr("promo_cents * 1000000 div total_cents")
        .alias("promo_share_ppm"))


@query(window=35, oracle="""
    WITH pairs AS (
      SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
    kept AS (
      SELECT pr.l_partkey, pr.l_suppkey FROM pairs pr
      WHERE NOT EXISTS (SELECT 1 FROM supplier s
                        WHERE s.s_suppkey = pr.l_suppkey
                          AND s.s_acctbal < 0))
    SELECT p.p_brand, substring(p.p_type, 1, 6) AS type_prefix,
           p.p_size,
           CAST(count(DISTINCT k.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM kept k JOIN part p ON p.p_partkey = k.l_partkey
    WHERE p.p_brand <> 'Brand#45'
    GROUP BY 1, 2, 3""")
def q_tpch_q16_part_supplier_counts(spark, sf_dir):
    """TPC-H Q16 class (supplier-count-per-part-attribute with a
    double exclusion; lineitem's (partkey, suppkey) pairs stand in for
    the fixture's missing partsupp, and negative supplier acctbal
    stands in for the comment-matched complaint filter): per (brand,
    type-prefix, size), the DISTINCT supplier count, excluding one
    brand and excluding flagged suppliers via an ANTI join. Scale
    shape: the pair relation dedups FIRST (map-side combined distinct
    on the co-keyed pair), the exclusions are one broadcast anti join
    + a pushed-down dimension filter, and count_distinct runs on the
    attribute-bounded groups."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    bad = s.where(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey").alias("l_suppkey"))
    kept = pairs.join(F.broadcast(bad), "l_suppkey", "left_anti")
    dim = (p.where(F.col("p_brand") != "Brand#45")
           .select("p_partkey", "p_brand",
                   F.substring("p_type", 1, 6).alias("type_prefix"),
                   "p_size"))
    return (kept.join(F.broadcast(dim),
                      kept["l_partkey"] == dim["p_partkey"])
            .groupBy("p_brand", "type_prefix", "p_size")
            .agg(F.count_distinct("l_suppkey").alias("supplier_cnt")))


@query(window=36, oracle="""
    SELECT CAST(sum(CAST(round(l.l_extendedprice * (1 - l.l_discount)
                               * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 20 AND 30)""")
def q_tpch_q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 (disjunctive predicate revenue — the OR-of-three
    bracket filter that exercises predicate pushdown and join-residual
    handling; size/quantity brackets replace the fixture's missing
    container lists): revenue from lines matching ANY of three
    (brand, size-range, quantity-range) brackets. The dimension side
    BROADCASTS with its own disjunct-union filter pushed into the
    scan; the OR evaluates as a join residual in one pass — never
    three scans unioned. One-row integer cents output."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    cents = F.round(F.col("l_extendedprice")
                    * (1 - F.col("l_discount")) * 100).cast("long")
    q = F.col("l_quantity")
    b1 = ((F.col("p_brand") == "Brand#12") &
          F.col("p_size").between(1, 5) & q.between(1, 11))
    b2 = ((F.col("p_brand") == "Brand#23") &
          F.col("p_size").between(1, 10) & q.between(10, 20))
    b3 = ((F.col("p_brand") == "Brand#34") &
          F.col("p_size").between(1, 15) & q.between(20, 30))
    return (li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
            .where(b1 | b2 | b3)
            .agg(F.sum(cents).alias("revenue_cents"),
                 F.count("*").alias("n_lines")))


@query(window=37, oracle="""
    WITH base AS (
      SELECT c_custkey, c_nationkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS bal
      FROM customer),
    thr AS (
      SELECT CAST(sum(bal) AS DOUBLE) / count(*) AS thr
      FROM base WHERE bal > 0),
    rich AS (
      SELECT b.* FROM base b CROSS JOIN thr t
      WHERE CAST(b.bal AS DOUBLE) > t.thr),
    idle AS (
      SELECT r.* FROM rich r
      WHERE NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = r.c_custkey
                          AND o.o_orderpriority = '1-URGENT'))
    SELECT c_nationkey AS nationkey,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(bal) AS BIGINT) AS total_bal_cents
    FROM idle GROUP BY 1""")
def q_tpch_q22_idle_rich_customers(spark, sf_dir):
    """TPC-H Q22 (global-sales-opportunity: customers richer than the
    positive-balance average who have NO orders; nationkey stands in
    for the fixture's missing phone country code): the
    scalar-subquery-threshold + ANTI-join class. The global average is
    ONE scalar aggregate broadcast as a 1-row cross join (never a
    correlated per-row subquery); cents discipline makes the
    threshold compare exact; the anti join prunes on the co-keyed
    custkey. "No orders" is adapted to "no URGENT orders" — every
    fixture customer has SOME order, which would make the gate
    vacuous (the zero-row-hash gotcha, CLAUDE.md; 75 candidate rows
    survive this form). Output per nation: candidate count and their
    total balance in cents."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    base = c.select("c_custkey", "c_nationkey", cents.alias("bal"))
    avg_pos = (base.where(F.col("bal") > 0)
               .agg((F.sum("bal") / F.count("*")).alias("thr")))
    rich = (base.crossJoin(F.broadcast(avg_pos))
            .where(F.col("bal").cast("double") > F.col("thr")))
    urgent = (o.where(F.col("o_orderpriority") == "1-URGENT")
              .select(F.col("o_custkey").alias("c_custkey")))
    idle = rich.join(urgent, "c_custkey", "left_anti")
    return (idle.groupBy(F.col("c_nationkey").alias("nationkey"))
            .agg(F.count("*").alias("n_customers"),
                 F.sum("bal").alias("total_bal_cents")))
